"""LLM-training-data pipeline plans over the documents table
(BASELINE.json north-star operators): text analysis, quality scoring,
language ID, exact + near dedup.

All expressions are pure Catalyst (no UDFs): at 100 TB these run at
scan speed and the dedup joins shuffle only on fingerprints/shingles.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import semantics as SEM
from ..functions import text as TX
from ..operators.dedup import exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs, simhash
from ..sources import load_table
from .registry import member, query

# stopword list shared verbatim with the oracles
_SW = "', '".join(TX.STOPWORDS)


@member(
    "doc_text_stats",
    doc="Text analysis: token counting (whitespace), avg token length, "
    "stopword ratio, punctuation ratio, quality score — all Catalyst "
    "expressions (north-star text ops). Every emitted ratio is a "
    "rational of integer counts, so the 6dp values are computed in "
    "exact integer arithmetic (functions/text exact rails; SCALE.md "
    "rule 5) — float round primitives disagree across engines when "
    "these rationals land exactly on a .5e-6 boundary.",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS np,
             CAST(length(text) AS BIGINT) AS ln
      FROM documents
    ), s AS (
      SELECT doc_id, n_chars, np, ln,
             CAST(len(toks) AS BIGINT) AS nt,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sl,
             CAST(len(list_filter(toks, x -> lower(x) IN ('{_SW}'))) AS BIGINT) AS sw
      FROM t
    )
    SELECT doc_id, n_chars, nt AS n_tokens,
           CASE WHEN nt > 0 THEN {SEM.round6_ratio_sql('sl', 'nt')} END AS avg_token_len,
           CASE WHEN nt > 0 THEN {SEM.round6_ratio_sql('sw', 'nt')} END AS stopword_ratio,
           CASE WHEN ln > 0 THEN {SEM.round6_ratio_sql('np', 'ln')} END AS punct_ratio,
           {TX.quality_q6_sql('nt', 'sw', 'np', 'ln')} AS quality_score
    FROM s
    """,
    bench=True,
)
def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    staged = d.select("doc_id", "n_chars", *TX.text_stat_stage_cols(t))
    has_t = F.col("__ts_nt") > 0
    has_c = F.col("__ts_ln") > 0
    return staged.select(
        "doc_id",
        "n_chars",
        F.col("__ts_nt").alias("n_tokens"),
        F.when(has_t, SEM.round6_ratio("__ts_sl", "__ts_nt")).alias("avg_token_len"),
        F.when(has_t, SEM.round6_ratio("__ts_sw", "__ts_nt")).alias("stopword_ratio"),
        F.when(has_c, SEM.round6_ratio("__ts_np", "__ts_ln")).alias("punct_ratio"),
        TX.quality_q6_col().alias("quality_score"),
    )


@member(
    "doc_lang_id",
    doc="Language-ID marker heuristic (north-star): deterministic "
    "marker-word argmax with fixed-order tie-break, fallback 'en'.",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             list_transform(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> ''), x -> lower(x)) AS toks
      FROM documents
    ), h AS (
      SELECT doc_id, lang,
             len(list_filter(toks, x -> x IN ('der','die','das','und','nicht'))) AS h_de,
             len(list_filter(toks, x -> x IN ('le','la','les','et','est')))      AS h_fr,
             len(list_filter(toks, x -> x IN ('el','los','las','es','y')))       AS h_es,
             len(list_filter(toks, x -> x IN ('de5','shi4','bu4')))              AS h_zh
      FROM t
    )
    SELECT doc_id, lang,
           CASE
             WHEN h_zh > h_es AND h_zh > h_fr AND h_zh > h_de AND h_zh > 0 THEN 'zh'
             WHEN h_es > h_fr AND h_es > h_de AND h_es > 0 THEN 'es'
             WHEN h_fr > h_de AND h_fr > 0 THEN 'fr'
             WHEN h_de > 0 THEN 'de'
             ELSE 'en'
           END AS pred_lang
    FROM h
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", TX.lang_id(F.col("text")).alias("pred_lang"))


@query(
    "doc_exact_dedup",
    doc="Exact dedup (north-star): canonicalized md5 fingerprint "
    "groupBy, keep min doc_id — one hash shuffle with map-side combine.",
    oracle="""
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           min(doc_id) AS keep_id,
           count(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"))


@member(
    "doc_ngram_jaccard_dups",
    doc="n-gram Jaccard near-dup (north-star): 3-token shingles, "
    "inverted-index blocking (equi-join on shingle, never a cross "
    "join), exact J = shared/(|A|+|B|-shared), threshold 0.5.",
    oracle="""
    WITH sh AS (
      SELECT doc_id AS id, sh.shingle AS shingle, n_sh FROM (
        SELECT doc_id,
               list_distinct([array_to_string(toks[i:i+2], ' ')
                              for i in range(1, len(toks) - 1)]) AS shs
        FROM (
          SELECT doc_id,
                 list_transform(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x <> ''), x -> lower(x)) AS toks
          FROM documents
        ) WHERE len(toks) >= 3
      ), LATERAL (SELECT len(shs) AS n_sh),
         LATERAL unnest(shs) AS sh(shingle)
    ), shc AS (
      -- document-frequency cap (max_df=256): mirrors the engine's
      -- posting-list blocking cap
      SELECT * FROM sh QUALIFY count(*) OVER (PARTITION BY shingle) <= 256
    )
    SELECT id_a, id_b, {JR} AS jaccard
    FROM (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(count(*) AS BIGINT) AS shared,
             CAST(any_value(a.n_sh) + any_value(b.n_sh) - count(*) AS BIGINT) AS u
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
      HAVING CAST(count(*) AS DOUBLE)
             / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) >= 0.5
    )
    """.replace("{JR}", SEM.round6_ratio_sql("shared", "u")),
    bench=True,
)
def doc_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5, k=3, max_df=256)
    # exact 6dp emission from the integer pieces (I/U lands on .5e-6
    # boundaries; see functions/semantics.round6_ratio)
    return pairs.select(
        "id_a",
        "id_b",
        SEM.round6_ratio("shared", "n_a + n_b - shared").alias("jaccard"),
    )


@member(
    "doc_minhash_lsh_dups",
    doc="MinHash+LSH near-dup (north-star scale path): 16 md5-derived "
    "minhashes, 4 bands, bucket equi-join for candidates; estimated "
    "Jaccard = matching-hash fraction. Hashes are md5-based so the "
    "exact same signatures are computable in ANSI SQL (true oracle).",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, len(toks) - 1)]) AS shs
      FROM (
        SELECT doc_id,
               list_transform(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                              x -> x <> ''), x -> lower(x)) AS toks
        FROM documents
      ) WHERE len(toks) >= 3
    ), sig AS (
      SELECT doc_id,
             [list_min(list_transform(shs,
                s -> ('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || s), 1, 15))::BIGINT))
              for seed in range(0, 16)] AS sig
      FROM sh
    ), banded AS (
      SELECT doc_id, sig, band,
             array_to_string(sig[band * 4 + 1 : band * 4 + 4], ',') AS bucket
      FROM sig, LATERAL unnest(range(0, 4)) AS b(band)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           round(CAST(len(list_filter([sig_a[i] = sig_b[i] for i in range(1, 17)],
                                       x -> x)) AS DOUBLE) / 16.0, 6) AS est_jaccard
    FROM cand
    """,
)
def doc_minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), n_hashes=16, bands=4, k=3
    )
    return pairs.select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))


@member(
    "doc_lsh_verified_dups",
    doc="PRODUCTION two-stage near-dup (operators/dedup."
    "lsh_verified_pairs): MinHash-LSH candidates (16 hashes, 4 bands "
    "— same recipe as doc_minhash_lsh_dups) -> EXACT shingle-Jaccard "
    "verify on candidates only, threshold 0.5. The composition every "
    "real corpus dedup runs at 100 TB: the band equi-join bounds the "
    "pair space, the exact check removes LSH false positives without "
    "ever paying the full inverted-index pair blowup. The oracle "
    "replays both stages (banded candidates, then list_intersect "
    "Jaccard).",
    oracle="""
    WITH shs0 AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, len(toks) - 1)]) AS shs
      FROM (
        SELECT doc_id,
               list_transform(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                              x -> x <> ''), x -> lower(x)) AS toks
        FROM documents
      ) WHERE len(toks) >= 3
    ), sig AS (
      SELECT doc_id,
             [list_min(list_transform(shs,
                s -> ('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || s), 1, 15))::BIGINT))
              for seed in range(0, 16)] AS sig
      FROM shs0
    ), banded AS (
      SELECT doc_id, band,
             array_to_string(sig[band * 4 + 1 : band * 4 + 4], ',') AS bucket
      FROM sig, LATERAL unnest(range(0, 4)) AS b(band)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), verified AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(sa.shs, sb.shs)) AS BIGINT) AS shared,
             CAST(len(sa.shs) + len(sb.shs)
                  - len(list_intersect(sa.shs, sb.shs)) AS BIGINT) AS u
      FROM cand c
      JOIN shs0 sa ON sa.doc_id = c.id_a
      JOIN shs0 sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b, {JR} AS lsh_jaccard FROM verified
    WHERE CAST(shared AS DOUBLE) / u >= 0.5
    """.replace("{JR}", SEM.round6_ratio_sql("shared", "u")),
)
def doc_lsh_verified_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import lsh_verified_pairs

    pairs = lsh_verified_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5, n_hashes=16, bands=4, k=3
    )
    return pairs.select(
        "id_a",
        "id_b",
        SEM.round6_ratio("shared", "n_a + n_b - shared").alias("lsh_jaccard"),
    )


@member(
    "doc_simhash",
    doc="SimHash document fingerprint (north-star): 60-bit signed-bit "
    "aggregate of md5 token hashes; identical bit recipe in the oracle.",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_transform(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                            x -> x <> ''),
                            s -> ('0x' || substr(md5('0:' || s), 1, 15))::BIGINT) AS h
      FROM documents
    )
    SELECT doc_id,
           CAST(list_sum([CASE WHEN list_sum(list_transform(h,
                  x -> CASE WHEN (x >> bit) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                THEN 1::BIGINT << bit ELSE 0 END
                for bit in range(0, 60)]) AS BIGINT) AS simhash
    FROM t
    """,
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load_table(spark, sf_dir, "documents"))


@member(
    "doc_dup_clusters",
    doc="Near-dup clustering (north-star dedup completion): connected "
    "components over the >=0.5-Jaccard pair graph via iterative "
    "min-label propagation; cluster id = canonical survivor (min "
    "doc_id). Oracle: transitive closure as a RECURSIVE CTE.",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id AS id, sh.shingle AS shingle, n_sh FROM (
        SELECT doc_id,
               list_distinct([array_to_string(toks[i:i+2], ' ')
                              for i in range(1, len(toks) - 1)]) AS shs
        FROM (
          SELECT doc_id,
                 list_transform(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x <> ''), x -> lower(x)) AS toks
          FROM documents
        ) WHERE len(toks) >= 3
      ), LATERAL (SELECT len(shs) AS n_sh),
         LATERAL unnest(shs) AS sh(shingle)
    ), shc AS (
      SELECT * FROM sh QUALIFY count(*) OVER (PARTITION BY shingle) <= 256
    ), pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id, a.n_sh, b.n_sh
      HAVING CAST(count(*) AS DOUBLE) / (a.n_sh + b.n_sh - count(*)) >= 0.5
    ), nodes AS (
      SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
    ), sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs
    ), reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT s.b, r.r FROM reach r JOIN sym s ON s.a = r.id
    )
    SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id
    """,
)
def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dup_clusters

    pairs = ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5, k=3, max_df=256)
    return dup_clusters(pairs).select(F.col("id").alias("doc_id"), "cluster")


@member(
    "doc_cluster_representative",
    doc="Near-dup selection policy (the 'which doc survives' half of "
    "dedup): per near-dup cluster, keep the HIGHEST-QUALITY member "
    "(6dp-rounded quality score, doc_id ascending tie-break) instead "
    "of the min-id canonical the prep pipeline uses — the "
    "quality-aware retention policy (RefinedWeb-style) as a "
    "one-window swap on the same cluster table. Singletons represent "
    "themselves. Scale: rides the already-bounded pair graph + one "
    "window per cluster; the quality column is scan-speed.",
    oracle="""
    WITH RECURSIVE t AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS np,
             CAST(length(text) AS BIGINT) AS ln
      FROM documents
    ), q AS (
      SELECT doc_id, {Q6} AS qs
      FROM (
        SELECT doc_id, np, ln,
               CAST(len(toks) AS BIGINT) AS nt,
               CAST(len(list_filter(toks, x -> lower(x) IN
                 ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS sw
        FROM t
      )
    ), sh AS (
      SELECT doc_id AS id, sh.shingle AS shingle, n_sh FROM (
        SELECT doc_id,
               list_distinct([array_to_string(toks[i:i+2], ' ')
                              for i in range(1, len(toks) - 1)]) AS shs
        FROM (
          SELECT doc_id,
                 list_transform(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x <> ''), x -> lower(x)) AS toks
          FROM documents
        ) WHERE len(toks) >= 3
      ), LATERAL (SELECT len(shs) AS n_sh),
         LATERAL unnest(shs) AS sh(shingle)
    ), shc AS (
      SELECT * FROM sh QUALIFY count(*) OVER (PARTITION BY shingle) <= 256
    ), pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id, a.n_sh, b.n_sh
      HAVING CAST(count(*) AS DOUBLE) / (a.n_sh + b.n_sh - count(*)) >= 0.5
    ), nodes AS (
      SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
    ), sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs
    ), reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT s.b, r.r FROM reach r JOIN sym s ON s.a = r.id
    ), cl AS (
      SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id
    ), dc AS (
      SELECT q.doc_id, q.qs, coalesce(cl.cluster, q.doc_id) AS cluster
      FROM q LEFT JOIN cl USING (doc_id)
    )
    SELECT doc_id,
           first_value(doc_id) OVER w AS rep_id,
           doc_id = first_value(doc_id) OVER w AS is_rep
    FROM dc
    WINDOW w AS (PARTITION BY cluster ORDER BY qs DESC, doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """.replace("{Q6}", TX.quality_q6_sql("nt", "sw", "np", "ln")),
)
def doc_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.dedup import dup_clusters

    docs = load_table(spark, sf_dir, "documents")
    # exact 6dp quality as the retention sort key: a float-rounded key
    # can differ across engines at .5e-6 boundaries and flip which doc
    # survives — the sort key is equality-critical, not just the value
    q = docs.select("doc_id", *TX.text_stat_stage_cols(F.col("text"))).select(
        "doc_id", TX.quality_q6_col().alias("qs")
    )
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, k=3, max_df=256)
    cl = dup_clusters(pairs).select(F.col("id").alias("doc_id"), "cluster")
    dc = q.join(cl, "doc_id", "left").withColumn(
        "cluster", F.coalesce("cluster", "doc_id")
    )
    w = (
        Window.partitionBy("cluster")
        .orderBy(F.col("qs").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    rep = F.first("doc_id").over(w)
    return dc.select(
        "doc_id",
        rep.alias("rep_id"),
        (F.col("doc_id") == rep).alias("is_rep"),
    )


@query(
    "doc_tfidf_top_terms",
    doc="TF-IDF term scoring (north-star text analysis): tf = term "
    "count in doc, idf = ln(N / df), top-3 terms per document by "
    "tf*idf with deterministic tie-break.",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lower(t.tok) AS term FROM documents,
      LATERAL unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x <> '')) AS t(tok)
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
    ), df AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY 1
    ), n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
    SELECT doc_id, term, round(tfidf, 6) AS tfidf, CAST(rk AS INT) AS rk
    FROM (
      SELECT tf.doc_id, tf.term, tf.tf * ln(n.n / df.df) AS tfidf,
             row_number() OVER (PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln(n.n / df.df) DESC, tf.term) AS rk
      FROM tf JOIN df USING (term), n
    ) WHERE rk <= 3
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # N as a lazy broadcast 1-row aggregate (no plan-time job)
    ncnt = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(ncnt))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id", "term", F.round("tfidf", 6).alias("tfidf"), F.col("rk").cast("int")
        )
    )


@member(
    "doc_bpe_token_stats",
    doc="BPE-ish regex token counting (north-star 'whitespace + a "
    "BPE-ish regex'): letter runs / digit runs / single punctuation as "
    "pieces (the GPT-2 pre-tokenizer shape, portable regex subset), "
    "compared with whitespace token counts.",
    oracle=f"""
    SELECT doc_id, ws_tokens, bpe_pieces,
           CASE WHEN ws_tokens > 0 THEN
             {SEM.round6_ratio_sql('bpe_pieces', 'ws_tokens')} END AS pieces_per_word
    FROM (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                  x -> x <> '')) AS BIGINT) AS ws_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                  AS BIGINT) AS bpe_pieces
      FROM documents
    )
    """,
)
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = TX.n_tokens(F.col("text"))
    bpe = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0))
    ).cast("bigint")
    return d.select("doc_id", ws.alias("ws_tokens"), bpe.alias("bpe_pieces")).select(
        "*",
        F.when(
            F.col("ws_tokens") > 0, SEM.round6_ratio("bpe_pieces", "ws_tokens")
        ).alias("pieces_per_word"),
    )


@member(
    "doc_bpe_pair_counts",
    doc="Tokenizer-training statistic (the counting half of one BPE "
    "merge step, Sennrich 2016): corpus-wide counts of ADJACENT "
    "pre-token pairs — the table whose argmax is the next merge rule. "
    "Adjacent pairs come from zipping each doc's piece array with its "
    "own 1-shifted slice (no posexplode self-join); the global count "
    "is a map-side-combined groupBy on the pair, and the top-100 cut "
    "is orderBy+limit (TakeOrderedAndProject — distributed top-k, no "
    "single-partition window over the pair vocabulary).",
    oracle="""
    WITH toks AS (
      SELECT regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS t
      FROM documents
    ), pairs AS (
      SELECT t[r.i] AS left_piece, t[r.i + 1] AS right_piece
      FROM toks, LATERAL unnest(range(1, len(t))) AS r(i)
    )
    SELECT left_piece, right_piece, CAST(count(*) AS BIGINT) AS pair_count
    FROM pairs
    GROUP BY left_piece, right_piece
    ORDER BY pair_count DESC, left_piece ASC, right_piece ASC
    LIMIT 100
    """,
)
def doc_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(
        F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)
    )
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, F.lit(1), F.greatest(n - 1, F.lit(0))),
        F.slice(toks, F.lit(2), F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("left_piece"), b.alias("right_piece")),
    )
    return (
        d.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.left_piece").alias("left_piece"), F.col("p.right_piece").alias("right_piece"))
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("left_piece").asc(), F.col("right_piece").asc())
        .limit(100)
    )


# the merge-APPLY half (round 9): how many merge rules the registered
# member learns and applies — bounded and compile-time fixed so the
# oracle replays the identical schedule (the kmeans unrolled-iteration
# discipline, but data-driven per rank via the broadcast merge table)
BPE_APPLY_MERGES = 16
_BPE_SEP = "\x1e"  # record separator: stripped from text upfront


def _bpe_sep_sql() -> str:
    return "chr(30)"


def bpe_pretokens(text_col):
    """THE pre-tokenizer (strip the separator char, then the Sennrich
    letters/digits/punct split) — single definition shared by
    doc_bpe_apply, doc_bpe_train, and operators/bpe's eager trainer +
    tokenizer, so the four call sites cannot drift (review finding)."""
    return F.regexp_extract_all(
        F.replace(F.coalesce(text_col, F.lit("")), F.lit(_BPE_SEP), F.lit("")),
        F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"),
        F.lit(0),
    )


def bpe_encode(toks):
    """Double-separator encoding of a piece array (see
    bpe_apply_merges_expr for the boundary invariant)."""
    sep2 = _BPE_SEP * 2
    return F.concat(F.lit(sep2), F.array_join(toks, sep2), F.lit(sep2))


def bpe_apply_merges_expr(toks, merges_col):
    """Apply a rank-ordered merge table to one doc's pre-token array —
    the APPLY half of a BPE tokenizer (Sennrich, Haddow, Birch, ACL
    2016: 'apply the learned operations in the order they were
    learned'). One leftmost-greedy, non-overlapping pass per merge
    rank, implemented as a LITERAL string replace over the
    double-separator encoding:

        ␞␞tok1␞␞tok2␞␞...␞␞   with   ␞l␞␞r␞ -> ␞lr␞

    each boundary carries TWO separator chars, a match consumes one
    from each side and the replacement restores them — so back-to-back
    merge sites ('a a a a' under (a,a)) chain correctly while
    overlapping sites ('a a a') merge leftmost-only, exactly the BPE
    greedy rule. Both engines' literal replace() scans left-to-right
    non-overlapping, so the pass semantics are engine-identical with
    NO regex (no metachar escaping problem for punctuation pieces).
    The fold over the merge table is one F.aggregate whose accumulator
    is the encoded string — O(len) per pass, merge table broadcast,
    nothing corpus-sized beyond the scan."""
    sep = F.lit(_BPE_SEP)
    sep2 = F.lit(_BPE_SEP * 2)
    enc = F.concat(sep2, F.array_join(toks, _BPE_SEP * 2), sep2)
    return F.aggregate(
        merges_col,
        enc,
        lambda s, m: F.replace(
            s,
            F.concat(sep, m["l"], sep2, m["r"], sep),
            F.concat(sep, m["l"], m["r"], sep),
        ),
    )


def _bpe_merge_row(base: DataFrame, toks_col: str, k: int) -> DataFrame:
    """The rank-ordered merge table as ONE broadcastable row: top-k
    adjacent pairs by (count DESC, l ASC, r ASC) — the same statistic
    doc_bpe_pair_counts registers, cut by orderBy+limit (distributed
    top-k) and collapsed via array_sort(collect_list(struct(-count,
    l, r))) so element order IS rank order."""
    n = F.size(toks_col)
    prs = F.zip_with(
        F.slice(toks_col, F.lit(1), F.greatest(n - 1, F.lit(0))),
        F.slice(toks_col, F.lit(2), F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return (
        base.select(F.explode(prs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
        .limit(k)
        .agg(
            F.array_sort(
                F.collect_list(F.struct((-F.col("cnt")).alias("nc"), "l", "r"))
            ).alias("__merges")
        )
    )


def _bpe_apply_oracle_sql(k: int) -> str:
    """Recursive-CTE replay of the merge-apply schedule: the merges CTE
    is the counting member's statistic cut to k; step i of the
    recursion applies rank-i via the identical double-separator
    literal replace; the anchor/exit depth is count(merges) so a
    corpus with < k distinct pairs terminates identically."""
    sep = _bpe_sep_sql()
    sep2 = f"{sep} || {sep}"
    return f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             regexp_extract_all(replace(coalesce(text, ''), {sep}, ''),
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS t
      FROM documents
    ), prs AS (
      SELECT t[r.i] AS l, t[r.i + 1] AS r
      FROM toks, LATERAL unnest(range(1, len(t))) AS r(i)
    ), merges AS (
      SELECT l, r, row_number() OVER (ORDER BY cnt DESC, l ASC, r ASC) AS rk
      FROM (SELECT l, r, count(*) AS cnt FROM prs GROUP BY l, r
            ORDER BY cnt DESC, l ASC, r ASC LIMIT {k})
    ), n_m AS (SELECT count(*) AS n FROM merges),
    rec AS (
      SELECT doc_id, len(t) AS n_before,
             {sep2} || coalesce(array_to_string(t, {sep2}), '') || {sep2} AS s,
             0 AS step
      FROM toks
      UNION ALL
      SELECT rec.doc_id, rec.n_before,
             replace(rec.s,
                     {sep} || m.l || {sep2} || m.r || {sep},
                     {sep} || m.l || m.r || {sep}),
             rec.step + 1
      FROM rec JOIN merges m ON m.rk = rec.step + 1
    )
    SELECT doc_id,
           CAST(n_before AS BIGINT) AS bpe_pieces_before,
           CAST(len(list_filter(str_split(s, {sep2}), x -> x <> ''))
                AS BIGINT) AS bpe_pieces_after,
           md5(s) AS bpe_fp
    FROM rec WHERE step = (SELECT n FROM n_m)
    """


@member(
    "doc_bpe_apply",
    doc="The merge-APPLY half of BPE (Sennrich 2016 — completing "
    "doc_bpe_pair_counts, which is the counting half): the top-"
    f"{BPE_APPLY_MERGES} adjacent-pair merges (rank = count DESC, "
    "pair ASC — the same statistic the counting member registers) are "
    "applied to every document in rank order, one leftmost-greedy "
    "non-overlapping pass per rank, via bpe_apply_merges_expr's "
    "double-separator literal-replace encoding (no regex, no UDF). "
    "Output: per-doc piece counts before/after and the md5 of the "
    "final encoded token stream. Scale shape: the merge table is a "
    "distributed top-k collapsed to ONE broadcast row; application is "
    "a scan-speed expression fold — zero joins, zero windows; the "
    "oracle replays the schedule as a recursive CTE with the "
    "identical literal replaces.",
    oracle=_bpe_apply_oracle_sql(BPE_APPLY_MERGES),
)
def doc_bpe_apply(
    spark: SparkSession, sf_dir: str, *, persisted_out: list | None = None
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = bpe_pretokens(F.col("text"))
    # the tokenized base feeds BOTH the merge-table aggregation and the
    # apply projection — persisted (lazily) so one action tokenizes the
    # corpus once, the doc_vocab_stats idiom; `persisted_out` receives
    # the handle for explicit release in sweep loops
    base = d.select("doc_id", toks.alias("__t")).persist()
    if persisted_out is not None:
        persisted_out.append(base)
    merges = _bpe_merge_row(base, "__t", BPE_APPLY_MERGES)
    applied = base.crossJoin(F.broadcast(merges)).select(
        "doc_id",
        F.size("__t").cast("bigint").alias("bpe_pieces_before"),
        bpe_apply_merges_expr(F.col("__t"), F.col("__merges")).alias("__s"),
    )
    sep2 = _BPE_SEP * 2
    return applied.select(
        "doc_id",
        "bpe_pieces_before",
        F.size(
            F.filter(F.split("__s", sep2), lambda x: x != F.lit(""))
        ).cast("bigint").alias("bpe_pieces_after"),
        F.md5(F.col("__s")).alias("bpe_fp"),
    )


# the full iterative TRAINER (round 9): unlike doc_bpe_apply (which
# learns all K merges from the INITIAL pair counts in one shot), true
# BPE training re-counts pairs AFTER each merge — rank i+1's counts see
# rank i's merged pieces (Sennrich 2016 algorithm 1). The round count
# is compile-time fixed so the oracle unrolls the identical schedule
# stage by stage (the kmeans_cells unrolled-iteration discipline).
BPE_TRAIN_ROUNDS = 8


def _bpe_encoded_pieces(s_col):
    """Piece array of a double-separator-encoded token stream: split on
    the 2-char separator and drop the empty edge fragments."""
    return F.filter(F.split(s_col, _BPE_SEP * 2), lambda x: x != F.lit(""))


def _bpe_adjacent_pairs(pieces):
    n = F.size(pieces)
    return F.zip_with(
        F.slice(pieces, F.lit(1), F.greatest(n - 1, F.lit(0))),
        F.slice(pieces, F.lit(2), F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )


def _bpe_train_oracle_sql(k: int) -> str:
    """Unrolled-stage replay of the iterative trainer: stage i counts
    adjacent pairs over the stage-(i-1) encoded strings, takes the
    (count DESC, l ASC, r ASC) argmax as merge rank i, and applies it
    with the identical double-separator literal replace. An `ON true`
    join applies the (possibly empty) 1-row merge table, so a corpus
    that runs out of pairs at stage i goes empty for stages > i on
    both engines."""
    sep = _bpe_sep_sql()
    sep2 = f"{sep} || {sep}"
    ctes = [
        f"""s0 AS (
      SELECT doc_id,
             {sep2} || coalesce(array_to_string(
               regexp_extract_all(replace(coalesce(text, ''), {sep}, ''),
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'), {sep2}), '') || {sep2} AS s
      FROM documents
    )"""
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"""m{i} AS (
      SELECT l, r, count(*) AS cnt
      FROM (
        SELECT p[u.i] AS l, p[u.i + 1] AS r
        FROM (SELECT list_filter(str_split(s, {sep2}), x -> x <> '') AS p
              FROM s{i - 1}),
             LATERAL unnest(range(1, len(p))) AS u(i)
      )
      GROUP BY l, r
      ORDER BY cnt DESC, l ASC, r ASC
      LIMIT 1
    )"""
        )
        if i < k:
            ctes.append(
                f"""s{i} AS (
      SELECT doc_id,
             replace(s, {sep} || m.l || {sep2} || m.r || {sep},
                        {sep} || m.l || m.r || {sep}) AS s
      FROM s{i - 1} JOIN m{i} m ON true
    )"""
            )
    selects = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, l AS left_piece, r AS right_piece,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM m{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + f"\n    {selects}\n    ORDER BY rank"


@member(
    "doc_bpe_train",
    doc="The full ITERATIVE BPE trainer (Sennrich, Haddow, Birch, ACL "
    f"2016, algorithm 1 — completing the counting half "
    "doc_bpe_pair_counts and the one-shot apply half doc_bpe_apply): "
    f"{BPE_TRAIN_ROUNDS} merge rounds where each round counts adjacent "
    "pairs over the CURRENT merged piece streams, takes the (count "
    "DESC, pair ASC) argmax as the next merge rule, and applies it "
    "corpus-wide with one leftmost-greedy non-overlapping literal-"
    "replace pass (bpe_apply_merges_expr's double-separator encoding). "
    "Output: the learned merge table — (rank, left_piece, right_piece, "
    "pair_count at learn time). Scale shape: each round is ONE map-"
    "side-combined pair groupBy + a LIMIT-1 argmax collapsed to a "
    "broadcast row; the apply is a scan-speed expression — K rounds = "
    "K passes over the (persisted) tokenized corpus, zero corpus-sized "
    "joins or windows; at 100 TB you checkpoint the encoded column "
    "every few rounds instead of re-deriving the replace chain. The "
    "oracle unrolls the identical schedule stage by stage.",
    oracle=_bpe_train_oracle_sql(BPE_TRAIN_ROUNDS),
)
def doc_bpe_train(
    spark: SparkSession, sf_dir: str, *, persisted_out: list | None = None
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    enc0 = bpe_encode(bpe_pretokens(F.col("text")))
    # ONE tokenize+encode pass feeds every round's count subtree —
    # persisted lazily (the doc_bpe_apply idiom); `persisted_out`
    # receives the handle for explicit release in sweep loops
    cur = d.select("doc_id", enc0.alias("__s")).persist()
    if persisted_out is not None:
        persisted_out.append(cur)
    merge_rows: list[DataFrame] = []
    for i in range(1, BPE_TRAIN_ROUNDS + 1):
        pairs = _bpe_adjacent_pairs(_bpe_encoded_pieces(F.col("__s")))
        top1 = (
            cur.select(F.explode(pairs).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
        )
        merge_rows.append(
            top1.select(
                F.lit(i).cast("bigint").alias("rank"),
                F.col("l").alias("left_piece"),
                F.col("r").alias("right_piece"),
                F.col("cnt").cast("bigint").alias("pair_count"),
            )
        )
        if i < BPE_TRAIN_ROUNDS:
            # broadcast the 1-row merge and apply it; an EMPTY merge
            # table (corpus out of pairs) empties the stream, matching
            # the oracle's `JOIN ... ON true`
            sep, sep2 = _BPE_SEP, _BPE_SEP * 2
            cur = cur.crossJoin(F.broadcast(top1.select("l", "r"))).select(
                "doc_id",
                F.replace(
                    F.col("__s"),
                    F.concat(F.lit(sep), F.col("l"), F.lit(sep2), F.col("r"), F.lit(sep)),
                    F.concat(F.lit(sep), F.concat(F.col("l"), F.col("r")), F.lit(sep)),
                ).alias("__s"),
            )
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out.orderBy("rank")


# duplicated-SPAN removal (round 9): exact substring dedup at chunk
# granularity — the Lee, Ippolito et al. 2022 ("Deduplicating Training
# Data Makes Language Models Better") ExactSubstr step, productionized
# the way large pipelines approximate the suffix-array form: fixed
# non-overlapping token windows, corpus-wide fingerprint, keep the
# globally-first occurrence of every duplicated window. Distinct from
# doc_winnowed_spans, which DETECTS overlap via fingerprint sampling;
# this member REMOVES the duplicated spans and rebuilds the documents.
DUP_SPAN_CHUNK = 8


@member(
    "doc_dup_span_removal",
    doc="Cross-document duplicated-span REMOVAL (Lee et al., ACL 2022 "
    f"ExactSubstr, at {DUP_SPAN_CHUNK}-token chunk granularity): each "
    "document is cut into non-overlapping whitespace-token windows; a "
    "FULL window occurring more than once corpus-wide is kept only at "
    "its globally-first (doc_id, chunk_idx) occurrence and removed "
    "everywhere else; partial tail windows are always kept. Output per "
    "doc: window counts, removed-window count, token mass before/after "
    "and the md5 of the rebuilt text. Scale shape: one explode + one "
    "row_number window partitioned by the chunk fingerprint (corpus-"
    "cardinality key, map-side-combinable grain, no skew: partial "
    "windows get per-row keys) + one per-doc re-aggregation — no "
    "corpus x corpus join, nothing driver-side; integer/string outputs "
    "only, so the hash contract is float-free.",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), ch AS (
      SELECT doc_id, u.i AS idx,
             array_to_string(list_slice(toks, u.i * {DUP_SPAN_CHUNK} + 1,
                                        u.i * {DUP_SPAN_CHUNK} + {DUP_SPAN_CHUNK}), ' ') AS txt,
             CAST(len(list_slice(toks, u.i * {DUP_SPAN_CHUNK} + 1,
                                 u.i * {DUP_SPAN_CHUNK} + {DUP_SPAN_CHUNK})) AS BIGINT) AS sz
      FROM t, LATERAL unnest(range(0, (len(toks) + {DUP_SPAN_CHUNK - 1}) // {DUP_SPAN_CHUNK})) AS u(i)
    ), st AS (
      SELECT *, row_number() OVER (
        PARTITION BY CASE WHEN sz = {DUP_SPAN_CHUNK} THEN md5(txt)
                          ELSE 'p:' || CAST(doc_id AS VARCHAR) || ':' || CAST(idx AS VARCHAR) END
        ORDER BY doc_id, idx) AS rn
      FROM ch
    ), a AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS span_n_chunks,
             CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS span_dup_removed,
             CAST(sum(CASE WHEN rn = 1 THEN sz ELSE 0 END) AS BIGINT) AS span_tokens_after,
             string_agg(CASE WHEN rn = 1 THEN txt END, ' ' ORDER BY idx) AS clean
      FROM st GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(toks) AS BIGINT) AS span_tokens_before,
           coalesce(a.span_n_chunks, 0) AS span_n_chunks,
           coalesce(a.span_dup_removed, 0) AS span_dup_removed,
           coalesce(a.span_tokens_after, 0) AS span_tokens_after,
           md5(coalesce(a.clean, '')) AS span_clean_fp
    FROM t LEFT JOIN a USING (doc_id)
    """,
)
def doc_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_span_removal(load_table(spark, sf_dir, "documents"))


def dup_span_removal(d: DataFrame) -> DataFrame:
    """DataFrame-level core of doc_dup_span_removal (also driven by
    tools/stress_dedup.py on the replica corpus). NOTE the inherent
    granularity trade-off: fixed windows are alignment-SENSITIVE (a
    one-token shift escapes the fingerprint — the stress replicas are
    the worst case by construction), which is why doc_winnowed_spans
    exists as the alignment-robust DETECTOR; this member is the
    REMOVAL half at the fixed-window granularity production pipelines
    run (the suffix-array form of Lee et al. is not expressible as a
    bounded-shuffle plan).

    Keep-first resolution is a partial-aggregatable
    min(struct(doc_id, idx, ...)) per fingerprint — NOT a row_number
    window over the fingerprint: a boilerplate chunk duplicated into
    half a 100-TB corpus is a planet-hot key, and a window would make
    ONE reducer sort the whole hot group, while min(struct) map-side
    combines to one candidate row per map partition before the
    shuffle (the r9-verdict #1 rewrite; the hot-key stress row in
    STRESS_r10 prices both forms). Struct comparison is
    lexicographic by field order, so min over (doc_id, idx, txt, sz)
    is exactly order-by (doc_id, idx) — (doc_id, idx) is unique, so
    txt/sz ride along without influencing the winner."""
    C = DUP_SPAN_CHUNK
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    base = d.select("doc_id", toks.alias("__toks"))
    nch = F.floor((F.size("__toks") + F.lit(C - 1)) / F.lit(C)).cast("int")
    # sequence(0, -1) DESCENDS in Spark — guard the empty-doc case
    idxs = F.when(nch > 0, F.sequence(F.lit(0), nch - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunk_structs = F.transform(
        idxs,
        lambda i: F.struct(
            i.cast("bigint").alias("idx"),
            F.array_join(F.slice("__toks", i * C + 1, C), " ").alias("txt"),
            F.size(F.slice("__toks", i * C + 1, C)).cast("bigint").alias("sz"),
        ),
    )
    ch = base.select("doc_id", F.explode(chunk_structs).alias("c")).select(
        "doc_id", F.col("c.idx").alias("idx"), F.col("c.txt").alias("txt"),
        F.col("c.sz").alias("sz"),
    )
    fp = F.when(F.col("sz") == C, F.md5(F.col("txt"))).otherwise(
        F.concat(
            F.lit("p:"), F.col("doc_id").cast("string"),
            F.lit(":"), F.col("idx").cast("string"),
        )
    )
    st = ch.withColumn("__fp", fp)
    # one winner (first occurrence) per fingerprint; map-side combined
    winners = st.groupBy("__fp").agg(
        F.min(F.struct("doc_id", "idx", "txt", "sz")).alias("w")
    )
    # re-aggregate the winners back to per-doc kept stats. A chunk of
    # doc d survives iff d won its fingerprint group, so kept-chunk
    # counts/tokens/clean-text all come from the winners side alone;
    # total chunk counts come FREE from the base projection (nch),
    # no second pass over the exploded chunks.
    kept = winners.groupBy(F.col("w.doc_id").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_kept"),
        F.sum("w.sz").cast("bigint").alias("span_tokens_after"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("w.idx", "w.txt"))),
                lambda s: s["txt"],
            ),
            " ",
        ).alias("__clean"),
    )
    zero = F.lit(0).cast("bigint")
    return (
        base.select(
            "doc_id",
            F.size("__toks").cast("bigint").alias("span_tokens_before"),
            nch.cast("bigint").alias("span_n_chunks"),
        )
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "span_tokens_before",
            "span_n_chunks",
            (F.col("span_n_chunks") - F.coalesce("__n_kept", zero))
            .cast("bigint").alias("span_dup_removed"),
            F.coalesce("span_tokens_after", zero).alias("span_tokens_after"),
            F.md5(F.coalesce("__clean", F.lit(""))).alias("span_clean_fp"),
        )
    )


# priority sampling (round 9): fixed-size weight-proportional corpus
# subsampling with unbiased subset-sum estimators (Duffield, Lund,
# Thorup, JACM 2007). Deterministic and EXACTLY cross-engine: u_i is a
# 52-bit md5 integer and the sort key (h+1)/w is one IEEE division
# (correctly rounded by spec — bit-identical in both engines, unlike
# transcendental ln/exp keys of the Efraimidis-Spirakis form).
PRIORITY_SAMPLE_K = 64
_PS_2POW52 = 4503599627370496  # u_i = (h_i + 1) / 2^52  in  (0, 1]
# one live cached top-(K+1) plan per (spark app, sf_dir) — see
# doc_priority_sample. Lock: threaded panel builds call the member
# concurrently; unsynchronized pop/unpersist races (review finding
# r11 — results stayed correct, but a still-live prior handle could
# silently lose its cache and recompute the corpus scan).
_PRIORITY_SAMPLE_SLOT: dict[tuple[str, str], DataFrame] = {}
_PRIORITY_SAMPLE_LOCK = threading.Lock()


@member(
    "doc_priority_sample",
    doc="Priority sampling (Duffield-Lund-Thorup, JACM 2007): a fixed-"
    f"size (K={PRIORITY_SAMPLE_K}) weight-proportional sample of the "
    "corpus with the unbiased subset-sum estimator w-hat = max(w, tau) "
    "— the primitive for subsampling a 100-TB corpus to a token budget "
    "while keeping statistics estimable. Weight = whitespace token "
    "count; priority q_i = w_i/u_i with u_i a deterministic 52-bit "
    "md5-seeded uniform, sample = K largest priorities = K smallest "
    "(h+1)/w sort keys (one exact IEEE division — cross-engine bit-"
    "identical; ties broken by doc_id), tau = the (K+1)-th priority "
    "rounded on the exact integer rails. Scale shape: eligibility is a "
    "scan filter; the K+1 cut is orderBy+limit (TakeOrderedAndProject, "
    "distributed); the threshold collapses to ONE broadcast row; the "
    "only window is a row_number over the <= K+1 sampled rows — a "
    "constant-size axis. A corpus with <= K eligible docs samples "
    "everything with w-hat = w (exercised at sf0.001; the threshold "
    "branch at sf0.01/0.1).",
    oracle=f"""
    WITH e AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS weight,
             ('0x' || substr(md5('ps:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS h
      FROM documents
    ), k AS (
      SELECT *, CAST(h + 1 AS DOUBLE) / CAST(weight AS DOUBLE) AS key
      FROM e WHERE weight > 0
    ), top AS (
      SELECT * FROM k ORDER BY key ASC, doc_id ASC LIMIT {PRIORITY_SAMPLE_K + 1}
    ), c AS (
      SELECT count(*) AS cnt FROM top
    ), thr AS (
      SELECT key AS tk, doc_id AS td, weight AS tw, h AS th
      FROM top ORDER BY key DESC, doc_id DESC LIMIT 1
    )
    SELECT CAST(row_number() OVER (ORDER BY key, doc_id) AS BIGINT) AS sample_rank,
           doc_id, weight,
           CASE WHEN cnt < {PRIORITY_SAMPLE_K + 1} THEN CAST(weight AS DOUBLE)
                ELSE greatest(CAST(weight AS DOUBLE),
                              {SEM.round6_ratio_sql(f'CAST(tw AS HUGEINT) * {_PS_2POW52}', 'th + 1')})
           END AS est_weight
    FROM top, c, thr
    WHERE cnt < {PRIORITY_SAMPLE_K + 1} OR (key, doc_id) < (tk, td)
    """,
)
def doc_priority_sample(
    spark: SparkSession, sf_dir: str, *, persisted_out: list | None = None
) -> DataFrame:
    from pyspark.sql.window import Window

    K = PRIORITY_SAMPLE_K
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ps:"), F.col("doc_id").cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("bigint")
    e = (
        d.select("doc_id", F.size(toks).cast("bigint").alias("weight"), h.alias("__h"))
        .filter(F.col("weight") > 0)
        .withColumn(
            "__key",
            (F.col("__h") + 1).cast("double") / F.col("weight").cast("double"),
        )
    )
    # persisted (lazily): `top` feeds BOTH the threshold aggregate and
    # the probe side — without it each side re-derives the TakeOrdered
    # cut and the corpus is scanned twice (review finding; the
    # doc_bpe_apply persisted_out idiom, K+1 rows of cache).
    # Bounded slot (r9 ADVICE): panel builds call this member without
    # persisted_out, which previously leaked one cached plan per call;
    # releasing the previous same-sf_dir handle first bounds the
    # session to ONE live cached (K+1)-row plan per corpus (a caller
    # still holding the prior DataFrame just recomputes, uncached).
    # Keyed by (application, sf_dir) and swept across app ids so a
    # handle from a STOPPED SparkSession is dropped, never unpersisted
    # against a dead context (review finding r10); the unpersist is
    # additionally best-effort for the stop-raced case.
    app_id = spark.sparkContext.applicationId
    top = e.orderBy(F.col("__key").asc(), F.col("doc_id").asc()).limit(K + 1).persist()
    with _PRIORITY_SAMPLE_LOCK:
        for key in [k for k in _PRIORITY_SAMPLE_SLOT if k[0] != app_id]:
            _PRIORITY_SAMPLE_SLOT.pop(key, None)  # dead session: just drop
        old = _PRIORITY_SAMPLE_SLOT.pop((app_id, sf_dir), None)
        _PRIORITY_SAMPLE_SLOT[(app_id, sf_dir)] = top
    if old is not None:
        try:
            old.unpersist()
        except Exception:  # session stopped between calls — harmless
            pass
    if persisted_out is not None:
        persisted_out.append(top)
    # the (K+1)-th smallest (key, doc_id) + the eligible-row count,
    # collapsed to one broadcastable threshold row
    thr = top.agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.max(
            F.struct(
                F.col("__key").alias("k"), F.col("doc_id").alias("d"),
                F.col("weight").alias("w"), F.col("__h").alias("h"),
            )
        ).alias("__t"),
    ).select(
        "__cnt",
        F.col("__t.k").alias("__tk"), F.col("__t.d").alias("__td"),
        F.col("__t.w").alias("__tw"), F.col("__t.h").alias("__th"),
    )
    # CEILING of the exact-rounding rails (r9 ADVICE): round6_ratio
    # requires the 6dp-scaled quotient to fit int64, and E[tau] ~
    # total_corpus_tokens/(K+1), so the rails hold up to ~6e14 total
    # whitespace tokens (6dp tau ~ total/65 * 1e6 < 2^63) — orders of
    # magnitude above any tested scale, but a 100-TB deployment near
    # that ceiling must raise K or drop tau to double precision
    # (mirrors the overflow note in functions/semantics.py).
    tau6 = SEM.round6_ratio(
        f"CAST(__tw AS DECIMAL(38,0)) * {_PS_2POW52}", "__th + 1"
    )
    below = (F.col("__cnt") < K + 1) | (
        F.struct(F.col("__key"), F.col("doc_id"))
        < F.struct(F.col("__tk"), F.col("__td"))
    )
    w_rank = Window.orderBy("__key", "doc_id")
    return (
        top.crossJoin(F.broadcast(thr))
        .filter(below)
        .select(
            F.row_number().over(w_rank).cast("bigint").alias("sample_rank"),
            "doc_id",
            "weight",
            F.when(F.col("__cnt") < K + 1, F.col("weight").cast("double"))
            .otherwise(F.greatest(F.col("weight").cast("double"), tau6))
            .alias("est_weight"),
        )
    )


@member(
    "doc_rolling_hash_fingerprint",
    doc="Rolling polynomial hash document fingerprint (north-star "
    "'document fingerprinting (rolling hash)'): Rabin-Karp-style fold "
    "h = (h*B + tokenhash) mod M over the token stream — identical "
    "md5-derived token hashes and fold on both sides.",
    oracle="""
    SELECT doc_id,
           CAST(list_reduce(
             list_prepend(0::BIGINT,
               list_transform(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                              x -> x <> ''),
                 s -> ('0x' || substr(md5('rh:' || s), 1, 7))::BIGINT)),
             (a, b) -> (a * 1000003 + b) % 2147483647) AS BIGINT) AS rolling_hash
    FROM documents
    """,
)
def doc_rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", _rolling_hash_expr(F.col("text")).alias("rolling_hash"))


def _rolling_hash_expr(text, toks=None):
    """Rabin-Karp fold as a Column expression — shared by the member
    and the fused one-pass form so both stay bit-identical. `toks`
    optionally supplies a pre-staged lower-token array column so the
    fused form skips one tokenize pass (r12 optimization round)."""
    toks = TX.tokens(F.lower(text)) if toks is None else toks
    # 7 hex chars = 28 bits; B=1000003, M=2^31-1 keeps a*B+b < 2^52 (exact)
    th = F.transform(
        toks,
        lambda s: F.conv(F.substring(F.md5(F.concat(F.lit("rh:"), s)), 1, 7), 16, 10).cast(
            "bigint"
        ),
    )
    return F.aggregate(th, F.lit(0).cast("bigint"), lambda a, b: (a * 1000003 + b) % 2147483647)


@member(
    "corpus_prep_pipeline",
    doc="North-star flagship composition — the full training-corpus "
    "prep in one plan: quality filter (score >= 0.5) -> exact-dup "
    "removal (md5 canonical, keep min id) -> near-dup removal (Jaccard "
    ">= 0.5 clusters, keep min id) -> surviving docs with lang + "
    "quality. Every stage is the already-verified operator; this "
    "checks their composition end-to-end.",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, text,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS np,
             CAST(length(text) AS BIGINT) AS ln
      FROM documents
    ), q AS (
      SELECT doc_id, lang, text, np, ln,
             CAST(len(toks) AS BIGINT) AS nt,
             CAST(len(list_filter(toks, x -> lower(x) IN
               ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS sw
      FROM t
    ), quality AS (
      SELECT * FROM q WHERE {GE_HALF}
    ), exact_keep AS (
      SELECT min(doc_id) AS doc_id FROM quality
      GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
    ), sh AS (
      SELECT q.doc_id AS id, sh.shingle AS shingle, n_sh FROM (
        SELECT doc_id,
               list_distinct([array_to_string(toks2[i:i+2], ' ')
                              for i in range(1, len(toks2) - 1)]) AS shs
        FROM (
          SELECT e.doc_id,
                 list_transform(list_filter(regexp_split_to_array(trim(q2.text), '\\s+'),
                                x -> x <> ''), x -> lower(x)) AS toks2
          FROM exact_keep e JOIN quality q2 ON e.doc_id = q2.doc_id
        ) WHERE len(toks2) >= 3
      ) q, LATERAL (SELECT len(shs) AS n_sh), LATERAL unnest(shs) AS sh(shingle)
    ), shc AS (
      SELECT * FROM sh QUALIFY count(*) OVER (PARTITION BY shingle) <= 256
    ), pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id, a.n_sh, b.n_sh
      HAVING CAST(count(*) AS DOUBLE) / (a.n_sh + b.n_sh - count(*)) >= 0.5
    ), drop_ids AS (
      SELECT DISTINCT id_b AS doc_id FROM (
        WITH RECURSIVE nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
        sym AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        reach(id, r) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT s.b, r.r FROM reach r JOIN sym s ON s.a = r.id
        )
        SELECT id AS id_b FROM (SELECT id, min(r) AS c FROM reach GROUP BY id) WHERE id <> c
      )
    )
    SELECT e.doc_id, q.lang, {Q6} AS quality_score
    FROM exact_keep e
    JOIN quality q ON e.doc_id = q.doc_id
    WHERE e.doc_id NOT IN (SELECT doc_id FROM drop_ids)
    """.replace("{GE_HALF}", TX.quality_ge_half_sql("nt", "sw", "np", "ln"))
    .replace("{Q6}", TX.quality_q6_sql("q.nt", "q.sw", "q.np", "q.ln")),
)
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dup_clusters

    d = load_table(spark, sf_dir, "documents")
    # staged integer counts ride the pipeline; the 0.5 cut and the 6dp
    # output are decided in exact integer arithmetic (see doc_text_stats)
    scored = d.select("doc_id", "lang", "text", *TX.text_stat_stage_cols(F.col("text")))
    quality = scored.filter(
        F.expr(TX.quality_ge_half_sql("__ts_nt", "__ts_sw", "__ts_np", "__ts_ln"))
    )
    exact_keep = exact_dedup(quality).select(F.col("keep_id").alias("doc_id"))
    kept = quality.join(exact_keep, "doc_id")
    pairs = ngram_jaccard_pairs(kept, threshold=0.5, k=3, max_df=256)
    clusters = dup_clusters(pairs)
    drop_ids = clusters.filter(F.col("id") != F.col("cluster")).select(
        F.col("id").alias("doc_id")
    )
    survivors = kept.join(drop_ids, "doc_id", "left_anti")
    return survivors.select(
        "doc_id", "lang", TX.quality_q6_col().alias("quality_score")
    )


@member(
    "doc_stratified_sample",
    doc="Deterministic stratified sampling (training-data op): per-"
    "language keep rates applied via an md5-hash threshold on doc_id "
    "— reproducible across engines and runs (no rand()), the "
    "downsample-overrepresented-language recipe.",
    oracle="""
    WITH rates AS (
      SELECT * FROM (VALUES ('en', 30), ('zh', 80), ('de', 80),
                            ('fr', 80), ('es', 80)) r(lang, keep_pct)
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE ('0x' || substr(md5('samp:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
          < r.keep_pct
    """,
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    rates = d.sparkSession.createDataFrame(
        [("en", 30), ("zh", 80), ("de", 80), ("fr", 80), ("es", 80)],
        ["lang", "keep_pct"],
    )
    h = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("samp:"), F.col("doc_id").cast("string"))), 1, 15),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(h < F.col("keep_pct"))
        .select("doc_id", "lang")
    )


@query(
    "doc_vocab_stats",
    doc="Corpus vocabulary statistics (training-data op): top-20 tokens "
    "by frequency with document frequency and corpus share; "
    "deterministic tie-break on the token.",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lower(t.tok) AS term FROM documents,
      LATERAL unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x <> '')) AS t(tok)
    ), tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok)
    SELECT term,
           CAST(count(*) AS BIGINT) AS tf,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
           round(count(*) / any_value(tot.n), 6) AS corpus_share
    FROM tok, tot
    GROUP BY term
    ORDER BY tf DESC, term
    LIMIT 20
    """,
)
def doc_vocab_stats(
    spark: SparkSession, sf_dir: str, *, persisted_out: list | None = None
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("term"))
    # the vocab-grain table is PERSISTED so the corpus total (a 1-row
    # aggregate broadcast back on, the F6 winsorize shape) and the
    # per-term share consume ONE tokenize scan. Earlier rounds used a
    # Window.partitionBy() sum here to stay lazy, but a web-scale vocab
    # is 1e8-1e9 distinct tokens (Heaps' law) and an unpartitioned
    # WindowExec moves ALL of it through one task — the round-6 verdict
    # flagged it as the last unbounded-axis single-partition window.
    # persist() is lazy (plan-build still runs zero jobs). Cache
    # lifetime: the entry is held by the session's CacheManager until
    # unpersist()/clearCache() — NOT GC-released — but identical plans
    # share one entry, so repeated calls per sf_dir do not accumulate;
    # the vocab table is the small side by construction. Pass
    # `persisted_out` (the semdedup idiom) to receive the cached handle
    # for explicit unpersist() — a long-lived session sweeping MANY
    # sf_dirs would otherwise grow the CacheManager by one entry per
    # directory (r8 verdict #3); the oracle harnesses clearCache().
    by_term = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    ).persist()
    if persisted_out is not None:
        persisted_out.append(by_term)
    tot = by_term.agg(F.sum("tf").cast("double").alias("__n_total"))
    return (
        by_term.crossJoin(F.broadcast(tot))
        .withColumn("corpus_share", F.round(F.col("tf") / F.col("__n_total"), 6))
        .drop("__n_total")
        .orderBy(F.col("tf").desc(), F.col("term").asc())
        .limit(20)
    )


@member(
    "doc_boilerplate_ratio",
    doc="Corpus-common n-gram (boilerplate) ratio, the C4/Gopher-style "
    "cross-document repetition signal: a doc's distinct 5-gram "
    "shingles are scored against corpus document frequency; the "
    "fraction appearing in >= 5 distinct docs is its boilerplate "
    "ratio. Explode -> distinct -> df-count -> join-back -> per-doc "
    "agg: two shuffles (gram df, doc re-agg), both map-side-"
    "combinable; the gram df table is the same posting-list shape "
    "(and df-cap mitigation) as the Jaccard dedup operator.",
    oracle="""
    WITH raw_words AS (
      SELECT doc_id,
             unnest(string_split(lower(trim(text)), ' ')) AS word,
             generate_subscripts(string_split(lower(trim(text)), ' '), 1) AS raw_pos
      FROM documents
    ),
    words AS (
      SELECT doc_id, word,
             row_number() OVER (PARTITION BY doc_id ORDER BY raw_pos) AS pos
      FROM raw_words WHERE word <> ''
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w
                  || ' ' || lead(word, 3) OVER w || ' ' || lead(word, 4) OVER w AS gram
      FROM words
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY lead(word, 4) OVER w IS NOT NULL
    ),
    gram_df AS (
      SELECT gram, count(DISTINCT doc_id) AS df FROM grams GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.df >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           CAST(round(sum(CASE WHEN f.df >= 5 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS DOUBLE)
             AS boilerplate_ratio
    FROM grams g JOIN gram_df f ON g.gram = f.gram
    GROUP BY g.doc_id
    """,
)
def doc_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(TX.shingles(F.col("text"), k=5)).alias("gram")
    )
    gram_df = grams.groupBy("gram").agg(F.countDistinct("doc_id").alias("df"))
    return (
        grams.join(gram_df, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("df") >= 5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_common"),
            F.round(
                F.sum(F.when(F.col("df") >= 5, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            )
            .cast("double")
            .alias("boilerplate_ratio"),
        )
    )


@member(
    "doc_repetition_ratio",
    doc="Within-document repetition signal (Gopher repetition rules, "
    "companion to the cross-document boilerplate ratio): per doc, the "
    "mass fraction of its single most frequent token and the distinct-"
    "token fraction. Explode -> (doc, token) count -> per-doc max/sum "
    "in one re-agg; shuffles only (doc_id, token) pairs, both stages "
    "map-side combinable, no window over the token stream.",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
      FROM documents
    ),
    counts AS (
      SELECT doc_id, tok, count(*) AS c
      FROM toks WHERE tok <> ''
      GROUP BY doc_id, tok
    )
    SELECT doc_id, n_tokens, top_token_count,
           {TOP_FRAC} AS top_token_frac,
           {ND_FRAC} AS distinct_frac
    FROM (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(max(c) AS BIGINT) AS top_token_count,
             CAST(count(*) AS BIGINT) AS nd
      FROM counts
      GROUP BY doc_id
    )
    """.replace("{TOP_FRAC}", SEM.round6_ratio_sql("top_token_count", "n_tokens"))
    .replace("{ND_FRAC}", SEM.round6_ratio_sql("nd", "n_tokens")),
)
def doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agged = counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.max("c").cast("bigint").alias("top_token_count"),
        F.count(F.lit(1)).cast("bigint").alias("__nd"),
    )
    return agged.select(
        "doc_id",
        "n_tokens",
        "top_token_count",
        SEM.round6_ratio("top_token_count", "n_tokens").alias("top_token_frac"),
        SEM.round6_ratio("__nd", "n_tokens").alias("distinct_frac"),
    )


@member(
    "doc_unigram_logprob",
    doc="Unigram LM quality score (the CCNet perplexity-filter shape, "
    "Wenzek et al. 2020, with a corpus-self-trained unigram model in "
    "place of the wiki KenLM): per document, the mean negative log "
    "probability of its tokens under corpus MLE unigram frequencies "
    "(low = stereotypical, high = rare/noisy — the bucket boundaries "
    "a CCNet-style head/middle/tail split cuts on). Two token passes "
    "by construction (one builds the frequency table, one scores "
    "against it — the train/apply split every LM filter has); the "
    "corpus-total normalizer is a 1-row aggregate over the PERSISTED "
    "vocab table, broadcast back on (the winsorize stats-pass shape) "
    "— no single-partition window on any axis, no plan-time actions.",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lower(t.tok) AS term FROM documents,
      LATERAL unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x <> '')) AS t(tok)
    ),
    tf AS (
      SELECT term, CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY term
    ),
    tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS n FROM tf),
    nll AS (
      SELECT tok.doc_id,
             round({SEM.ordered_fold_sum_sql('-ln(tf.tf / tot.n)')} / count(*), 6) AS unigram_nll,
             round(min(-ln(tf.tf / tot.n)), 6) AS unigram_nll_min,
             round(max(-ln(tf.tf / tot.n)), 6) AS unigram_nll_max
      FROM tok JOIN tf USING (term), tot
      GROUP BY tok.doc_id
    ),
    cuts AS (
      SELECT round(quantile_cont(unigram_nll, 1.0/3.0), 6) AS c1,
             round(quantile_cont(unigram_nll, 2.0/3.0), 6) AS c2
      FROM nll
    )
    SELECT nll.*,
           CASE WHEN unigram_nll <= c1 THEN 'head'
                WHEN unigram_nll <= c2 THEN 'middle'
                ELSE 'tail' END AS unigram_bucket
    FROM nll, cuts
    """,
)
def doc_unigram_logprob(
    spark: SparkSession, sf_dir: str, *, persisted_out: list | None = None
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("term")
    )
    # the frequency table is PERSISTED so the corpus-total normalizer
    # (1-row aggregate broadcast back on — the F6 winsorize shape) and
    # the scoring join consume one tf build instead of re-tokenizing.
    # The earlier Window.partitionBy() total was the last unbounded-
    # axis single-partition window in the package (web-scale vocab is
    # 1e8-1e9 distinct tokens); persist() stays lazy at plan build.
    # Cache lifetime: held by the CacheManager until unpersist/
    # clearCache (not GC-released), ONE shared entry per identical
    # plan (per sf_dir) — see doc_vocab_stats for the full note.
    tf = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .persist()
    )
    if persisted_out is not None:
        persisted_out.append(tf)
    tf = tf.crossJoin(
        F.broadcast(tf.agg(F.sum("tf").alias("n_total")))
    )
    nll = -F.log(F.col("tf") / F.col("n_total"))
    # the mean is an ORDERED fold (sort asc, left-fold add): a plain
    # avg() merges partials in shuffle order, so its low bits — and at
    # a .5e-6 boundary the 6dp output — depend on partitioning and
    # diverge from the oracle's own order (the latent exactness class
    # the round-7 verdict flagged; SEM.ordered_fold_sum note)
    per_doc = (
        tok.join(tf, "term")
        .groupBy("doc_id")
        .agg(
            F.round(SEM.ordered_fold_sum(nll) / F.count(F.lit(1)), 6).alias(
                "unigram_nll"
            ),
            F.round(F.min(nll), 6).alias("unigram_nll_min"),
            F.round(F.max(nll), 6).alias("unigram_nll_max"),
        )
    )
    # head/middle/tail split at the corpus NLL terciles (the CCNet
    # bucket boundaries): exact type-7 percentiles over the 6dp-
    # rounded scores as a lazy 1-row broadcast — the winsorize
    # stats-pass/apply-pass shape, no corpus-wide window
    cuts = per_doc.agg(
        F.round(F.expr("percentile(unigram_nll, 1.0D/3.0D)"), 6).alias("__c1"),
        F.round(F.expr("percentile(unigram_nll, 2.0D/3.0D)"), 6).alias("__c2"),
    )
    return (
        per_doc.crossJoin(F.broadcast(cuts))
        .withColumn(
            "unigram_bucket",
            F.when(F.col("unigram_nll") <= F.col("__c1"), "head")
            .when(F.col("unigram_nll") <= F.col("__c2"), "middle")
            .otherwise("tail"),
        )
        .drop("__c1", "__c2")
    )


@member(
    "doc_hybrid_scores",
    doc="Hybrid retrieval scoring (north-star similarity + text "
    "analysis combined): per document, a lexical score (sum of "
    "tf*ln(N/df) over a fixed query-term set) fused with embedding "
    "cosine to a fixed query vector — the lexical+dense blend a "
    "retrieval pipeline ranks with. Lexical side is two aggregates "
    "and a broadcast 1-row max for normalization; dense side joins "
    "documents to their embedding row and broadcasts the single "
    "query vector; no cross join anywhere.",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lower(t.tok) AS term FROM documents,
      LATERAL unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x <> '')) AS t(tok)
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
      WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2
    ), df AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok
      WHERE term IN ('spark', 'join', 'window') GROUP BY 1
    ), n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    lex AS (
      SELECT tf.doc_id,
             {SEM.ordered_fold_sum_sql('tf.tf * ln(n.n / df.df)')} AS lex
      FROM tf JOIN df USING (term), n GROUP BY tf.doc_id
    ), mx AS (SELECT max(lex) AS m FROM lex),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    cosd AS (
      SELECT vec_id AS doc_id,
             list_cosine_similarity(embedding::DOUBLE[], q.qv) AS cos
      FROM embeddings, q
    )
    SELECT d.doc_id,
           round(coalesce(lex.lex, 0), 6) AS lex_score,
           round(cosd.cos, 6) AS emb_cos,
           round(0.5 * coalesce(lex.lex, 0) / mx.m + 0.5 * cosd.cos, 6)
             AS hybrid_score
    FROM documents d LEFT JOIN lex USING (doc_id)
                     LEFT JOIN cosd USING (doc_id), mx
    """,
)
def doc_hybrid_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import as_double_array, cosine_similarity

    terms = ("spark", "join", "window")
    d = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    tok = d.select("doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("term"))
    qtok = tok.filter(F.col("term").isin(*terms))
    tf = qtok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = qtok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # N as a lazy broadcast 1-row aggregate (no plan-time job)
    ncnt = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    lex = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(ncnt))
        .withColumn("w", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
        .groupBy("doc_id")
        # ordered fold (SEM.ordered_fold_sum): the lex sum feeds a
        # 6dp-rounded equality-hashed output
        .agg(SEM.ordered_fold_sum(F.col("w")).alias("lex"))
    )
    mx = lex.agg(F.max("lex").alias("m"))
    qv = emb.filter(F.col("vec_id") == 0).select(
        as_double_array(F.col("embedding")).alias("qv")
    )
    cosd = emb.crossJoin(F.broadcast(qv)).select(
        F.col("vec_id").alias("doc_id"),
        cosine_similarity(as_double_array(F.col("embedding")), F.col("qv")).alias("cos"),
    )
    out = (
        d.select("doc_id")
        .join(lex, "doc_id", "left")
        .join(cosd, "doc_id", "left")
        .crossJoin(F.broadcast(mx))
    )
    lex0 = F.coalesce(F.col("lex"), F.lit(0.0))
    return out.select(
        "doc_id",
        F.round(lex0, 6).alias("lex_score"),
        F.round("cos", 6).alias("emb_cos"),
        F.round(0.5 * lex0 / F.col("m") + 0.5 * F.col("cos"), 6).alias("hybrid_score"),
    )


@member(
    "doc_chunk_dedup",
    doc="Chunk-level exact dedup signal (C4/RefinedWeb-style sub-"
    "document dedup, north-star dedup family): tokens split into "
    "fixed 8-token chunks, each chunk hashed; a chunk is duplicated "
    "if its hash occurs more than once across the corpus. Per doc: "
    "chunk count, duplicated-chunk count, duplicated fraction — the "
    "signal used to strip boilerplate chunks before training. Two "
    "shuffles (chunk-hash count, re-aggregate per doc); chunk keys "
    "are 64-bit hashes so the shuffle carries 8-byte keys.",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), chunks AS (
      SELECT doc_id,
             array_to_string(toks[(i * 8 + 1):(i * 8 + 8)], ' ') AS chunk
      FROM tok, LATERAL unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS r(i)
      WHERE len(toks) > 0
    ), freq AS (
      SELECT chunk, count(*) AS n FROM chunks GROUP BY 1
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           round(sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
             AS dup_chunk_frac
    FROM chunks c JOIN freq f USING (chunk)
    GROUP BY c.doc_id
    """,
)
def doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", TX.tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    n_chunks = F.ceil(F.size("toks") / F.lit(8.0)).cast("bigint")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i * 8 + 1, 8)),
    )
    chunks = toks.select("doc_id", F.explode(chunk_arr).alias("chunk")).select(
        "doc_id", F.xxhash64("chunk").alias("h")
    )
    freq = chunks.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
    per_doc = (
        chunks.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("n") > 1).cast("bigint")).alias("n_dup_chunks"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_chunks",
        "n_dup_chunks",
        F.round(F.col("n_dup_chunks") / F.col("n_chunks").cast("double"), 6).alias(
            "dup_chunk_frac"
        ),
    )


@member(
    "doc_decontamination",
    doc="Benchmark decontamination (training-data op; the GPT-3/Dolma "
    "n-gram collision rule): documents playing the eval set (doc_id % "
    "97 == 0) contribute their distinct 8-token grams; every training "
    "doc sharing >= 1 gram with that set is flagged, with the count of "
    "distinct shared grams. Scale shape: the benchmark gram set is "
    "small by construction and BROADCAST; the corpus-side explode "
    "joins 8-byte gram hashes against it — no shuffle of the corpus, "
    "one re-aggregate per flagged doc.",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 97 = 0 THEN 'eval' ELSE 'train' END AS decon_role,
             list_distinct([array_to_string(toks[i:i+7], ' ')
                            for i in range(1, len(toks) - 6)]) AS gs
      FROM (
        SELECT doc_id,
               list_transform(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                              x -> x <> ''), x -> lower(x)) AS toks
        FROM documents
      )
    ), g AS (
      SELECT doc_id, decon_role, g.gram
      FROM (SELECT * FROM d WHERE len(gs) > 0), LATERAL unnest(gs) AS g(gram)
    ), eg AS (
      SELECT DISTINCT gram FROM g WHERE decon_role = 'eval'
    ), sh AS (
      SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS n_sh
      FROM g JOIN eg USING (gram) WHERE g.decon_role = 'train'
      GROUP BY g.doc_id
    )
    SELECT d.doc_id, d.decon_role,
           CASE WHEN d.decon_role = 'train' THEN coalesce(sh.n_sh, 0) END
             AS n_shared_grams,
           CASE WHEN d.decon_role = 'train' THEN coalesce(sh.n_sh, 0) > 0 END
             AS is_contaminated
    FROM d LEFT JOIN sh USING (doc_id)
    """,
)
def doc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    role = F.when(F.col("doc_id") % 97 == 0, "eval").otherwise("train")
    d = docs.select(
        "doc_id", role.alias("decon_role"), TX.shingles(F.col("text"), 8).alias("gs")
    )
    g = d.select(
        "doc_id", "decon_role", F.explode("gs").alias("gram")
    ).select("doc_id", "decon_role", F.xxhash64("gram").alias("g"))
    eval_grams = g.filter(F.col("decon_role") == "eval").select("g").distinct()
    shared = (
        g.filter(F.col("decon_role") == "train")
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_sh"))
    )
    out = d.select("doc_id", "decon_role").join(shared, "doc_id", "left")
    is_train = F.col("decon_role") == "train"
    n_shared = F.when(is_train, F.coalesce(F.col("n_sh"), F.lit(0)).cast("bigint"))
    return out.select(
        "doc_id",
        "decon_role",
        n_shared.alias("n_shared_grams"),
        F.when(is_train, n_shared > 0).alias("is_contaminated"),
    )


@member(
    "doc_sequence_packing",
    doc="Sequence packing for training batches (training-data op): "
    "documents stream into fixed 2048-token context windows in "
    "deterministic (shard, doc_id) order — each doc occupies token "
    "span [cum - n, cum); emitted per doc: start offset, first/last "
    "window id, boundary-straddle flag. Packing is per shard (= lang "
    "here), so the running sum is a window partitioned by shard, "
    "never a global single-partition pass.",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                  x -> x <> '')) AS BIGINT) AS n_toks
      FROM documents
    ), c AS (
      SELECT doc_id, lang, n_toks,
             sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT doc_id, lang AS pack_shard, n_toks AS pack_n_tokens,
           CAST(cum - n_toks AS BIGINT) AS pack_start_tok,
           CAST((cum - n_toks) // 2048 AS BIGINT) AS pack_seq_start,
           CAST(CASE WHEN n_toks > 0 THEN (cum - 1) // 2048
                     ELSE (cum - n_toks) // 2048 END AS BIGINT) AS pack_seq_end,
           (CASE WHEN n_toks > 0 THEN (cum - 1) // 2048
                 ELSE (cum - n_toks) // 2048 END) > ((cum - n_toks) // 2048)
             AS pack_spans_boundary
    FROM c
    """,
)
def doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    W = 2048
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", TX.n_tokens(F.col("text")).alias("n_toks"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("cum", F.sum("n_toks").over(w))
    start = F.col("cum") - F.col("n_toks")
    seq_start = F.expr(f"(cum - n_toks) DIV {W}")
    seq_end = F.when(
        F.col("n_toks") > 0, F.expr(f"(cum - 1) DIV {W}")
    ).otherwise(seq_start)
    return c.select(
        "doc_id",
        F.col("lang").alias("pack_shard"),
        F.col("n_toks").alias("pack_n_tokens"),
        start.cast("bigint").alias("pack_start_tok"),
        seq_start.cast("bigint").alias("pack_seq_start"),
        seq_end.cast("bigint").alias("pack_seq_end"),
        (seq_end > seq_start).alias("pack_spans_boundary"),
    )


@member(
    "doc_mixture_plan",
    doc="Data-mixture planner (training-data op): allocate a global "
    "token budget (90% of corpus tokens) across sources with equal "
    "shares + surplus redistribution, capped at each source's actual "
    "token capacity — the water-filling allocation dual "
    "(operators/waterfill.budget_fill, closed form via windows, no "
    "iteration). Output per source: capacity, allocated tokens, the "
    "sampling rate a downstream stratified sampler would apply, and "
    "whether the source is fully consumed (saturated). Scale: the "
    "groupBy shuffles on source (map-side combine); the allocation "
    "windows run over #sources rows — thousands at most, never rows.",
    oracle="""
    WITH cap AS (
      SELECT source,
             CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                  x -> x <> ''))) AS BIGINT) AS capacity_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(floor(0.9 * sum(capacity_tokens)) AS DOUBLE) AS budget
      FROM cap
    ), w AS (
      SELECT c.source, c.capacity_tokens, t.budget,
             CAST(row_number() OVER ord AS BIGINT) AS i,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(sum(c.capacity_tokens) OVER (ord ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum
      FROM cap c, tot t
      WINDOW ord AS (ORDER BY c.capacity_tokens ASC, c.source ASC)
    ), f AS (
      SELECT *, min(CASE WHEN capacity_tokens * (n - i + 1)
                              <= budget - (cum - capacity_tokens)
                         THEN 1 ELSE 0 END)
               OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS flag
      FROM w
    ), k AS (
      SELECT *, max(CASE WHEN flag = 1 THEN i END) OVER () AS k_star,
                max(CASE WHEN flag = 1 THEN cum END) OVER () AS cum_k
      FROM f
    )
    SELECT source, capacity_tokens,
           round(CASE WHEN flag = 1 THEN CAST(capacity_tokens AS DOUBLE)
                 ELSE greatest((budget - coalesce(cum_k, 0))
                               / (n - coalesce(k_star, 0)), 0) END, 4) AS alloc_tokens,
           round(CASE WHEN flag = 1 THEN 1.0
                 ELSE greatest((budget - coalesce(cum_k, 0))
                               / (n - coalesce(k_star, 0)), 0)
                      / capacity_tokens END, 6) AS sample_rate,
           flag = 1 AS saturated
    FROM k
    """,
)
def doc_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.waterfill import budget_fill

    d = load_table(spark, sf_dir, "documents")
    cap = d.groupBy("source").agg(
        F.sum(TX.n_tokens(F.col("text"))).alias("capacity_tokens")
    )
    # lazy broadcast 1-row budget: no plan-time job
    tot = cap.agg(
        F.floor(0.9 * F.sum("capacity_tokens")).cast("double").alias("budget")
    )
    w = cap.crossJoin(F.broadcast(tot))
    a = budget_fill(
        w, "capacity_tokens", "budget", tiebreak="source", out_col="__alloc"
    )
    return a.select(
        "source",
        "capacity_tokens",
        F.round(F.col("__alloc"), 4).alias("alloc_tokens"),
        F.round(F.col("__alloc") / F.col("capacity_tokens"), 6).alias("sample_rate"),
        "saturated",
    )


@member(
    "doc_mixture_alpha",
    doc="Temperature (exponent-smoothed) mixture rates — the "
    "multilingual sampling policy of mBERT/XLM-R (Conneau et al. "
    "2020, alpha=0.3): per source, the natural token share "
    "n_i/sum(n), the smoothed share n_i^alpha/sum(n^alpha), and the "
    "implied up/down-sampling factor. The complement to the "
    "water-filling budget planner (doc_mixture_plan): that one caps "
    "by capacity, this one reshapes toward low-resource sources. "
    "Scale: one groupBy on source (map-side combine), then windows "
    "over the SOURCE axis (thousands of rows at most) — never over "
    "the corpus.",
    oracle="""
    WITH cap AS (
      SELECT source,
             CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                  x -> x <> ''))) AS DOUBLE) AS n_tok
      FROM documents GROUP BY source
    )
    SELECT source,
           round(n_tok / sum(n_tok) OVER (), 6) AS alpha_nat_share,
           round(pow(n_tok, 0.3) / sum(pow(n_tok, 0.3)) OVER (), 6) AS alpha_share,
           round((pow(n_tok, 0.3) / sum(pow(n_tok, 0.3)) OVER ())
                 / (n_tok / sum(n_tok) OVER ()), 6) AS alpha_upsample
    FROM cap
    """,
)
def doc_mixture_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    cap = d.groupBy("source").agg(
        F.sum(TX.n_tokens(F.col("text"))).cast("double").alias("n_tok")
    )
    w = Window.partitionBy()
    nat = F.col("n_tok") / F.sum("n_tok").over(w)
    sm = F.pow(F.col("n_tok"), 0.3) / F.sum(F.pow(F.col("n_tok"), 0.3)).over(w)
    return cap.select(
        "source",
        F.round(nat, 6).alias("alpha_nat_share"),
        F.round(sm, 6).alias("alpha_share"),
        F.round(sm / nat, 6).alias("alpha_upsample"),
    )


@member(
    "doc_incremental_dedup",
    doc="Incremental corpus dedup (training-data op): docs below the "
    "80%-of-max id cutoff are the already-ingested corpus snapshot, "
    "the rest the incoming batch. Each incoming doc is fingerprinted "
    "(md5 of the sorted distinct lowercase token set — exact-set "
    "near-dup; the fingerprint is pluggable) and classified: "
    "dup_of_corpus (fingerprint already in the snapshot), "
    "dup_in_batch (an earlier incoming doc has it), unique (keep). "
    "Scale: fingerprint groupBy + one equi-join on the fingerprint — "
    "the snapshot side never re-scans text, only its fingerprint "
    "column; grain is incoming doc_id (corpus docs absent -> NULL "
    "inc_* panel columns). Cutoff is a lazy broadcast 1-row agg.",
    oracle="""
    WITH cut AS (
      SELECT CAST(ceil(0.8 * (max(doc_id) + 1)) AS BIGINT) AS cutoff
      FROM documents
    ), fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                           x -> x <> ''))), ' ')) AS fp
      FROM documents
    ), corpus AS (
      SELECT DISTINCT f.fp FROM fp f, cut WHERE f.doc_id < cutoff
    ), inc AS (
      SELECT f.doc_id, f.fp FROM fp f, cut WHERE f.doc_id >= cutoff
    ), m AS (
      SELECT i.doc_id, c.fp IS NOT NULL AS in_corpus,
             min(i.doc_id) OVER (PARTITION BY i.fp) AS first_id
      FROM inc i LEFT JOIN corpus c USING (fp)
    )
    SELECT doc_id,
           CASE WHEN in_corpus THEN 'dup_of_corpus'
                WHEN doc_id = first_id THEN 'unique'
                ELSE 'dup_in_batch' END AS inc_verdict,
           (NOT in_corpus AND doc_id = first_id) AS inc_keep
    FROM m
    """,
)
def doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        F.md5(
            F.array_join(
                F.sort_array(F.array_distinct(TX.tokens(F.lower(F.trim(F.col("text")))))),
                " ",
            )
        ).alias("fp"),
    )
    cut = d.agg(F.ceil(0.8 * (F.max("doc_id") + 1)).cast("bigint").alias("cutoff"))
    fp = fp.crossJoin(F.broadcast(cut))
    corpus = fp.where(F.col("doc_id") < F.col("cutoff")).select("fp").distinct()
    inc = fp.where(F.col("doc_id") >= F.col("cutoff")).select("doc_id", "fp")
    m = inc.join(
        corpus.withColumn("in_corpus", F.lit(True)), on="fp", how="left"
    ).withColumn("first_id", F.min("doc_id").over(Window.partitionBy("fp")))
    in_corpus = F.coalesce(F.col("in_corpus"), F.lit(False))
    return m.select(
        "doc_id",
        F.when(in_corpus, F.lit("dup_of_corpus"))
        .when(F.col("doc_id") == F.col("first_id"), F.lit("unique"))
        .otherwise(F.lit("dup_in_batch"))
        .alias("inc_verdict"),
        (~in_corpus & (F.col("doc_id") == F.col("first_id"))).alias("inc_keep"),
    )


def _governance_cols(staged: bool = False) -> list:
    """The governance members' expressions against the raw documents
    columns, shared with plans/governance.py so the fused form stays
    definitionally identical to the members. `staged=True` (r12
    optimization round): the heavy shared intermediates are read from
    the `governance_stage_cols` columns the fused form stages — the
    URL/width families stay unstaged (they run over the short
    `source` string; measured immaterial)."""
    from .governance import (
        gopher_quality_cols,
        html_strip_cols,
        pii_redaction_cols,
        url_normalize_cols,
        width_normalize_cols,
    )

    return [
        *pii_redaction_cols(staged=staged),
        *url_normalize_cols(),
        *width_normalize_cols(),
        *html_strip_cols(staged=staged),
        # r13: the fused form's word count comes from the Arrow pass's
        # staged __ts_nt (same value the staged token array's size()
        # produced) — the gopher folds read __gq_sl/__gq_nstop/__gq_sym
        *gopher_quality_cols(staged_nt=F.col("__ts_nt") if staged else None),
    ]


# ---------------------------------------------------------------------------
# r13 OPTIMIZATION round (guide §4.2): the INTEGER-EXACT token-fold
# families of the fused doc scan (simhash, rolling hash, classifier
# fold, repetition runs, lang-id marker counts, text-stat counts, BPE
# piece count) move from interpreted Catalyst HOF evaluation
# (aggregate/transform/filter are CodegenFallback — the r12-measured
# ~5 s interpreted floor) to ONE mapInArrow pass that hands whole
# Arrow batches to hashlib+numpy. Bit-exact by construction:
#  - hashlib.md5 over the token's UTF-8 bytes == Spark md5 (same
#    bytes, same digest); int(hex, 16) == conv(hex, 16, 10)::bigint
#    for the 15-/7-hex-char prefixes (both < 2^63, positive);
#  - the integer folds (bit votes, run lengths, bucket-weight sums,
#    marker counts) are exact integer arithmetic in both engines;
#  - NO Python lower()/tokenize semantics are trusted for values: the
#    lowered text is computed by Spark (`lower(text)` rides the batch)
#    and tokenized here with the EXPLICIT Java \s class
#    [ \t\n\x0B\f\r] — `re` and Java regex agree exactly on a literal
#    character class, so the token arrays are identical to
#    `filter(split(trim(lower(text)), '\\s+'), t -> t <> '')`
#    (trim only strips 0x20, which the empty-token filter already
#    removes from the split output).
# The FLOAT ratio families stay in Catalyst (guide §4 boundary rule +
# the repo's exactness rails): this pass emits only integers/strings.
# Value-locked by the same DuckDB oracles, the join-of-members
# equivalence tests, and tests/test_fused_arrow.py (expression-vs-
# Arrow column parity incl. NULL/empty/whitespace-only edge rows).
# ---------------------------------------------------------------------------

_JAVA_WS = " \t\n\x0b\x0c\r"  # Java regex \s (ASCII-only by default)
_RH_B = 1000003  # Rabin-Karp base — must match _rolling_hash_expr
_RH_M = 2147483647  # and its modulus (2^31 - 1)

# mapInArrow output schema: the 5 passthrough documents columns plus
# the integer-exact computed families (types mirror the Catalyst
# expressions they replace: size()/length() casts -> bigint, the two
# governance folds stayed int in governance_stage_cols).
_FUSED_INTS_SCHEMA = (
    "doc_id bigint, lang string, source string, n_chars bigint, text string, "
    "__ts_nt bigint, __ts_sl bigint, __ts_sw bigint, __ts_np bigint, "
    "__ts_ln bigint, pred_lang string, bpe_pieces bigint, "
    "rep_n_tokens bigint, top_token_count bigint, __rep_nd bigint, "
    "rolling_hash bigint, simhash bigint, __clf_wsum bigint, "
    "__clf_ntok bigint, __gq_sl int, __gq_nstop int"
)


def _fused_doc_text_ints(batches):
    """mapInArrow worker for the fused doc scan's integer families.

    Input batches carry (doc_id, lang, source, n_chars, text, __lt)
    where __lt = lower(text) COMPUTED BY SPARK; output batches drop
    __lt and append the _FUSED_INTS_SCHEMA columns.

    Fully vectorized (guide §4.2 — hand whole batches to native code):
    tokenization is pyarrow's `ascii_split_whitespace`, whose
    whitespace class is EXACTLY Java regex \\s ([ \\t\\n\\x0B\\f\\r]) —
    it keeps boundary empties (like Java split), which are dropped by
    id exactly as the `t <> ''` filter does; the flat token stream is
    `dictionary_encode`d so each DISTINCT token is md5-hashed ONCE
    (the measured sf0.1 corpus has 31 distinct tokens across 270k;
    real corpora have vocab-sized dictionaries per batch), and every
    per-doc fold is a numpy cumsum-diff / unique over the id stream.
    Per-batch memory is O(tokens-per-batch) machine words, bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch.
    """
    import re
    from hashlib import md5

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.text import LANG_MARKERS, STOPWORDS

    # BPE pre-tokenizer: letters | digits | single non-alnum-non-ws —
    # the member's Java pattern with \s expanded to its literal class
    bpe_re = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\x0c\r]")
    stop_set = frozenset(STOPWORDS)
    # marker sets are disjoint by construction; class ids 1..4 in the
    # lang_id_from_tokens_sql tie-break order (de, fr, es, zh)
    marker_class = {}
    for ci, lng in enumerate(("de", "fr", "es", "zh"), start=1):
        for m in LANG_MARKERS[lng]:
            marker_class[m] = ci
    weights = _CLF_W_INT
    pow60 = np.int64(1) << np.arange(60, dtype=np.int64)

    def np_i64(arrow_arr):
        return (
            pc.cast(pc.fill_null(arrow_arr, 0), pa.int64())
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )

    for batch in batches:
        col = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
        text_col = col["text"]
        nrow = batch.num_rows
        nulls = pc.is_null(text_col).to_numpy(zero_copy_only=False)

        # --- tokenize + intern (vectorized) ---
        split = pc.ascii_split_whitespace(col["__lt"])
        lens = np_i64(pc.list_value_length(split))
        denc = pc.dictionary_encode(pc.list_flatten(split))
        dic = denc.dictionary.to_pylist()
        flat_ids = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        D = max(len(dic), 1)

        # per-DISTINCT token values (md5 once per distinct)
        sim_v = np.zeros(D, np.int64)
        rh_v = np.zeros(D, np.uint64)
        w_v = np.zeros(D, np.int64)
        cls_v = np.zeros(D, np.int64)
        stop_v = np.zeros(D, np.int64)
        empty_id = -1
        for di, tok in enumerate(dic):
            if tok == "":
                empty_id = di  # Java-split boundary artifact, dropped
                continue
            b = tok.encode("utf-8")
            sim_v[di] = int(md5(b"0:" + b).hexdigest()[:15], 16)
            rh_v[di] = int(md5(b"rh:" + b).hexdigest()[:7], 16)
            w_v[di] = weights[int(md5(b"qb:" + b).hexdigest()[:15], 16) % _CLF_D]
            cls_v[di] = marker_class.get(tok, 0)
            stop_v[di] = 1 if tok in stop_set else 0

        raw_off = np.zeros(nrow + 1, np.int64)
        np.cumsum(lens, out=raw_off[1:])
        if empty_id >= 0:
            keep = flat_ids != empty_id
            kc = np.zeros(flat_ids.shape[0] + 1, np.int64)
            np.cumsum(keep, out=kc[1:])
            counts = kc[raw_off[1:]] - kc[raw_off[:-1]]
            ids = flat_ids[keep]
        else:
            counts = lens
            ids = flat_ids
        total = int(ids.shape[0])
        offsets = np.zeros(nrow + 1, np.int64)
        np.cumsum(counts, out=offsets[1:])

        def seg_sum(per_token):
            """Per-doc sums over the flat token stream (cumsum-diff:
            correct for empty docs, unlike add.reduceat)."""
            cs = np.zeros(total + 1, np.int64)
            np.cumsum(per_token, out=cs[1:])
            return cs[offsets[1:]] - cs[offsets[:-1]]

        if total:
            tok_sim = sim_v[ids]
            # simhash: per-bit one-counts, bit b set iff 2*count_b > n.
            # (r13 round-2 NEGATIVE result, kept as the guard: folding
            # all 66 per-doc sums into one cumsum over a (unique x 66)
            # int64 matrix on the per-(doc, distinct-token) unique list
            # measured SLOWER — 0.63 s vs 0.43 s first-run and
            # monotonically degrading to 8 s across reused-worker runs
            # (the ~80 MB per-call matrices thrash the worker) — while
            # these 60 small full-stream passes stay cache-resident.)
            cnts = np.empty((nrow, 60), np.int64)
            for bit in range(60):
                cnts[:, bit] = seg_sum((tok_sim >> np.int64(bit)) & np.int64(1))
            simhash = (((2 * cnts) > counts[:, None]) * pow60).sum(axis=1)
            # rolling hash h = sum b_i * B^(n-1-i) mod M (exact: each
            # term < 2^59 in uint64, per-term mod keeps the cumsum far
            # below 2^64 for any Arrow-sized batch)
            maxn = int(counts.max())
            powtab = np.ones(maxn, np.uint64)
            for e in range(1, maxn):
                powtab[e] = (powtab[e - 1] * _RH_B) % _RH_M
            exps = np.repeat(offsets[1:], counts) - 1 - np.arange(total)
            contrib = (rh_v[ids] * powtab[exps]) % np.uint64(_RH_M)
            rolling = (seg_sum(contrib.astype(np.int64)) % _RH_M).astype(np.int64)
            clf_wsum = seg_sum(w_v[ids])
            n_stop = seg_sum(stop_v[ids])
            tok_cls = cls_v[ids]
            de_c, fr_c, es_c, zh_c = (
                seg_sum(tok_cls == ci) for ci in range(1, 5)
            )
            # repetition: max multiplicity == max run length in the
            # sorted array; distinct count — np.unique on (doc, token)
            dockey = np.repeat(np.arange(nrow, dtype=np.int64), counts)
            uk, ucnt = np.unique(dockey * np.int64(D) + ids, return_counts=True)
            udoc = uk // np.int64(D)
            rep_nd = np.bincount(udoc, minlength=nrow).astype(np.int64)
            rep_best = np.zeros(nrow, np.int64)
            np.maximum.at(rep_best, udoc, ucnt)
        else:
            simhash = np.zeros(nrow, np.int64)
            rolling = np.zeros(nrow, np.int64)
            clf_wsum = np.zeros(nrow, np.int64)
            n_stop = np.zeros(nrow, np.int64)
            de_c = fr_c = es_c = zh_c = np.zeros(nrow, np.int64)
            rep_nd = np.zeros(nrow, np.int64)
            rep_best = np.zeros(nrow, np.int64)

        # lang-id: the SQL fold's fixed-order strictly-greater CASE
        pred_lang = np.select(
            [
                (zh_c > es_c) & (zh_c > fr_c) & (zh_c > de_c) & (zh_c > 0),
                (es_c > fr_c) & (es_c > de_c) & (es_c > 0),
                (fr_c > de_c) & (fr_c > 0),
                de_c > 0,
            ],
            ["zh", "es", "fr", "de"],
            default="en",
        )

        # text-level integer counts, vectorized in Arrow kernels (code
        # points — utf8_length and Spark length() agree): sum of RAW
        # token lengths == count of non-whitespace chars
        ts_ln = np_i64(pc.utf8_length(text_col))
        ts_np = np.zeros(nrow, np.int64)
        for ch in ".,;:!?":
            ts_np += np_i64(pc.count_substring(text_col, ch))
        n_ws = np.zeros(nrow, np.int64)
        for ch in _JAVA_WS:
            n_ws += np_i64(pc.count_substring(text_col, ch))
        ts_sl = ts_ln - n_ws
        # BPE piece count: Java-regex alternation semantics kept in
        # Python re (leftmost-first, greedy — identical match counts)
        bpe = np.zeros(nrow, np.int64)
        for i, t in enumerate(text_col.to_pylist()):
            if t is not None:
                bpe[i] = len(bpe_re.findall(t))

        # NULL-text rows: every fold over a NULL token array is NULL
        # in Catalyst (size/aggregate of NULL), EXCEPT simhash whose
        # expression coalesces to 0
        no_tok = nulls | (counts == 0)  # rep family: when(size(toks)>0)
        i64 = pa.int64()
        i32 = pa.int32()

        def arr(np_a, mask, typ=i64):
            return pa.array(np_a, type=typ, mask=mask)

        yield pa.RecordBatch.from_arrays(
            [
                col["doc_id"],
                col["lang"],
                col["source"],
                col["n_chars"],
                col["text"],
                arr(counts, nulls),  # __ts_nt
                arr(ts_sl, nulls),
                arr(n_stop, nulls),  # __ts_sw
                arr(ts_np, nulls),
                arr(ts_ln, nulls),
                pa.array(pred_lang, type=pa.string(), mask=nulls),
                arr(bpe, nulls),
                arr(counts, no_tok),  # rep_n_tokens
                arr(rep_best, no_tok),
                arr(rep_nd, no_tok),
                arr(rolling, nulls),
                arr(simhash, None),  # coalesced to 0 on NULL text
                arr(clf_wsum, nulls),
                arr(counts, nulls),  # __clf_ntok
                arr(ts_sl.astype(np.int32), nulls, i32),  # __gq_sl is int
                arr(n_stop.astype(np.int32), nulls, i32),  # __gq_nstop
            ],
            names=[f.strip().split(" ")[0] for f in _FUSED_INTS_SCHEMA.split(",")],
        )


# columns the fused tail appends with select("*", …) — corpus_prep_fused's
# decontamination stage and the packing select (plus every pack_*)
_FUSED_TAIL_COLS = ("__cum", "n_shared_grams", "is_contaminated")


def _reject_fused_reserved(cols: list[str], reserved: tuple, what: str) -> None:
    clash = next((c for c in cols if c in reserved or c.startswith("pack_")), None)
    if clash is not None:
        raise ValueError(
            f"doc_features_fused: {what} stages column {clash!r}, a name "
            "reserved for the fused tail (__cum, n_shared_grams, "
            "is_contaminated, pack_*)"
        )


def doc_features_fused(
    docs: DataFrame,
    extra_cols: list | None = None,
    pre_window=None,
    stage_cols: list | None = None,
) -> DataFrame:
    """ONE-pass production form of the expression-only document
    features: the 15 per-document members that need no cross-document
    join (text stats, lang id, BPE counts, repetition, rolling hash,
    simhash, null normalization, stratified-sample membership,
    sequence packing, PII redaction, URL canonicalization, width
    normalization, HTML stripping, Gopher quality flags, the hashed-
    feature quality classifier) computed in a single select over ONE scan of
    documents — 1 Exchange total (the packing window on lang) vs the
    panel's 15 member subtrees. Value-locked three ways: the same
    FULL-JOIN DuckDB oracle as the member subset, an equivalence test
    against the join-of-members (tests/test_fused_panel.py), and an
    Exchange-count plan assertion.

    Members whose output omits rows (repetition: docs with >= 1
    token; stratified sample: kept docs only) surface as NULL columns
    here, matching what the panel's full-outer join produces.

    `extra_cols` appends expressions over the raw documents columns to
    the same single select; `pre_window(df)` transforms the projected
    frame BEFORE the packing window so heavy intermediate columns
    (e.g. gram arrays) can be consumed and dropped without ever
    crossing the Exchange — both exist for corpus_prep_fused, which
    extends this scan with the decontamination and exact-dup signals.
    The fused tail appends `__cum`, `n_shared_grams`, `is_contaminated`
    and `pack_*` with select("*", …), so those names are reserved: a
    caller-staged column of the same name raises ValueError rather
    than coming out duplicated.
    """
    from pyspark.sql import Window

    t = F.col("text")
    # r13 OPTIMIZATION round (guide §4.2): the integer-exact token
    # folds (simhash, rolling hash, classifier fold, repetition runs,
    # lang-id marker counts, the five text-stat counts, BPE piece
    # count, gopher token folds) are computed in ONE mapInArrow pass
    # over the scan (_fused_doc_text_ints) instead of interpreted
    # Catalyst HOF trees — HOFs are CodegenFallback, the r12-measured
    # ~5 s floor of this scan. Spark computes lower(text) so no Python
    # lower()/tokenize semantics are trusted; the float ratio families
    # and the value-pinned regex chains stay in Catalyst, reading the
    # staged integers exactly as before. Value-identical: same DuckDB
    # oracles, join-of-members equivalence, tests/test_fused_arrow.py.
    n_tok = F.col("__ts_nt")

    # stratified-sample membership as the same md5-threshold rule
    keep_pct = (
        F.when(F.col("lang") == "en", 30)
        .when(F.col("lang").isin("zh", "de", "fr", "es"), 80)
    )
    samp_h = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("samp:"), F.col("doc_id").cast("string"))), 1, 15),
            16,
            10,
        ).cast("bigint")
        % 100
    )

    num_str = F.regexp_extract(F.col("source"), r"([0-9]+)$", 1)

    # ONE Arrow pass computes every integer-exact token family; the
    # value-pinned regex/string stages (PII, HTML, symbol numerator)
    # stay in Catalyst over the passthrough text
    base = docs.select(
        "doc_id", "lang", "source", "n_chars", "text", F.lower(t).alias("__lt")
    )
    arrow = base.mapInArrow(_fused_doc_text_ints, _FUSED_INTS_SCHEMA)
    from .governance import governance_stage_cols

    staged = arrow.select(
        "*",
        *governance_stage_cols(None, None, arrow_counts=True),
        # caller-staged heavy intermediates consumed by extra_cols
        # (corpus_prep_fused stages the lower-token array its shingle
        # expression references ~10x — CollapseProject keeps non-cheap
        # multiply-referenced aliases apart, so it evaluates once)
        *(stage_cols or []),
    )
    one = staged.select(
        "doc_id",
        "lang",
        # doc_text_stats (staged integer counts from the Arrow pass;
        # the exact 6dp ratio outputs are derived in the second
        # projection — same rails as the member)
        "n_chars",
        n_tok.alias("n_tokens"),
        "__ts_nt",
        "__ts_sl",
        "__ts_sw",
        "__ts_np",
        "__ts_ln",
        # doc_lang_id (panel rename lang -> li_lang; marker-argmax
        # with the identical fixed-order tie-break, Arrow pass)
        F.col("lang").alias("li_lang"),
        "pred_lang",
        # doc_bpe_token_stats
        n_tok.alias("ws_tokens"),
        "bpe_pieces",
        # doc_repetition_ratio (panel rename n_tokens -> rep_n_tokens)
        "rep_n_tokens",
        "top_token_count",
        "__rep_nd",
        # doc_rolling_hash_fingerprint
        "rolling_hash",
        # doc_simhash (same md5-vote hash, Arrow pass)
        "simhash",
        # doc_source_null_normalization
        F.nullif(F.trim("source"), F.lit("")).alias("source_clean"),
        F.when(num_str != "", num_str.try_cast("bigint")).alias("source_num"),
        F.coalesce(F.nullif(F.col("lang"), F.lit("")), F.lit("und")).alias("lang_filled"),
        # doc_stratified_sample membership (panel rename lang -> ss_lang)
        F.when(keep_pct.isNotNull() & (samp_h < keep_pct), F.col("lang")).alias("ss_lang"),
        # governance members (expression-only: PII redaction, URL
        # canonicalization, width normalization)
        *_governance_cols(staged=True),
        # doc_quality_classifier staged exact integers (Arrow pass) —
        # derived to the three outputs in the next projection
        "__clf_wsum",
        "__clf_ntok",
        *(extra_cols or []),
        # doc_sequence_packing input
        n_tok.alias("__pack_n"),
    )
    has_ts = F.col("__ts_nt") > 0
    one = one.select(
        "*",
        *clf_output_cols(),
        # exact 6dp ratio outputs over the staged integers (same
        # rails as the members — see doc_text_stats)
        F.when(has_ts, SEM.round6_ratio("__ts_sl", "__ts_nt")).alias("avg_token_len"),
        F.when(has_ts, SEM.round6_ratio("__ts_sw", "__ts_nt")).alias("stopword_ratio"),
        F.when(F.col("__ts_ln") > 0, SEM.round6_ratio("__ts_np", "__ts_ln")).alias(
            "punct_ratio"
        ),
        TX.quality_q6_col().alias("quality_score"),
        F.when(
            F.col("ws_tokens") > 0, SEM.round6_ratio("bpe_pieces", "ws_tokens")
        ).alias("pieces_per_word"),
        SEM.round6_ratio("top_token_count", "rep_n_tokens").alias("top_token_frac"),
        SEM.round6_ratio("__rep_nd", "rep_n_tokens").alias("distinct_frac"),
    ).drop(*CLF_STAGE_NAMES, *TX.TEXT_STAGE_NAMES, "__rep_nd")
    _reject_fused_reserved(one.columns, _FUSED_TAIL_COLS, "extra_cols")
    if pre_window is not None:
        one = pre_window(one)
        _reject_fused_reserved(one.columns, ("__cum",), "pre_window")
    W_CTX = 2048
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # r13 round-2 (construction cost, guide §1 measured): the packing
    # tail used to be 1 withColumn + 6 withColumns + drop — nine plan
    # ops, each a py4j round trip + an analysis layer; two select()s
    # build the identical columns in the identical order. Value- and
    # plan-identical (same expressions, same names).
    c = one.select("*", F.sum("__pack_n").over(w).alias("__cum"))
    start = F.col("__cum") - F.col("__pack_n")
    seq_start = F.expr(f"(__cum - __pack_n) DIV {W_CTX}")
    seq_end = F.when(
        F.col("__pack_n") > 0, F.expr(f"(__cum - 1) DIV {W_CTX}")
    ).otherwise(seq_start)
    keep = [n for n in c.columns if n not in ("lang", "__pack_n", "__cum")]
    return c.select(
        *keep,
        F.col("lang").alias("pack_shard"),
        F.col("__pack_n").alias("pack_n_tokens"),
        start.cast("bigint").alias("pack_start_tok"),
        seq_start.cast("bigint").alias("pack_seq_start"),
        seq_end.cast("bigint").alias("pack_seq_end"),
        (seq_end > seq_start).alias("pack_spans_boundary"),
    )


def corpus_prep_fused(docs: DataFrame) -> DataFrame:
    """The flagship 100-TB corpus-prep pass (round-6 verdict stretch):
    doc_features_fused's 15 expression families PLUS the two join
    members that previously ran as separate subtrees, folded into the
    same single corpus scan —

    - BENCHMARK DECONTAMINATION (doc_decontamination semantics): the
      eval gram set collapses to ONE broadcast row (collect_set of
      gram hashes — small by construction), and a train doc's shared-
      gram count becomes size(array_intersect(...)): an expression,
      so the member's corpus-side gram explode + per-doc re-aggregate
      disappears entirely. The gram array is consumed and dropped
      BEFORE the packing window, so it never crosses an Exchange.
      (The eval side re-scans documents to carve the benchmark out of
      the corpus — inherited from the member's self-play shape; in
      production the benchmark is a separate small table.) Dial: the
      per-row intersect is O(|doc grams| + |eval grams|) — right for
      benchmark suites up to ~1e5 grams (measured at 36.6k); for much
      larger contamination lists use the member's explode + broadcast
      hash-join form (shared hash table) — same oracle either way.
    - EXACT-DUP SIGNAL (doc_exact_dedup keep-rule at doc grain): the
      canonical md5 fingerprint is computed in the scan; keep-id /
      copy-count / is-dup come from one window over the fingerprint
      (bounded groups), the only Exchange this adds.

    Plan shape: 2 corpus scans (main + eval carve-out), 2 Exchanges
    (lang packing window + fp window), broadcasts only — zero
    equi-joins. Value-locked by the same FULL-JOIN oracle as the
    member subset extended with the fingerprint window, and by the
    join-of-members equivalence test (tests/test_fused_panel.py).
    """
    from pyspark.sql import Window

    t = F.col("text")
    role = F.when(F.col("doc_id") % 97 == 0, "eval").otherwise("train")
    # evaluated inside doc_features_fused's `one` select over the
    # caller-staged `__tkl` (r13: the Arrow integer pass no longer
    # stages token arrays, but the shingle expression references its
    # token input ~10x — size, 8 slices, the n>=k guard — and Catalyst
    # does not merge subtrees differing only in lambda ids, so an
    # inline tokenize would run per REFERENCE: measured 1.4 s vs the
    # staged form at sf0.1. `stage_cols` below restores the staging.)
    ghs = F.transform(
        TX.shingles(t, 8, toks=F.col("__tkl")), lambda g: F.xxhash64(g)
    )

    eval_row = (
        docs.filter((F.col("doc_id") % 97) == 0)
        .select(F.explode(TX.shingles(t, 8)).alias("gram"))
        .select(F.xxhash64("gram").alias("g"))
        .agg(F.collect_set("g").alias("__eval_grams"))
    )

    def pre_window(one: DataFrame) -> DataFrame:
        is_train = F.col("decon_role") == "train"
        # r13 (guide §1 measured, stage isolation): ArrayIntersect
        # builds its per-row hash set from the SECOND argument and
        # probes with the first, so the eval set goes FIRST — the
        # per-row set build is then over the ~50-gram doc array, not
        # the 36.6k-gram broadcast array (size() of the distinct
        # intersect is symmetric in its arguments, so the value is
        # identical; measured 1.03 s -> 0.29 s for the decon stage at
        # sf0.1, oracle re-verified). array_intersect(__eval_grams,
        # __ghs) is fast only because of that Spark-internal build
        # side, not an API contract: the values do not depend on the
        # argument order, so a Spark that builds from the first
        # argument would change only the speed.
        n_shared = F.when(
            is_train,
            F.size(F.array_intersect("__eval_grams", "__ghs")).cast("bigint"),
        )
        # r13: the intersect (per-row hash-set probe against the
        # broadcast eval-gram set — the dominant decon cost) is
        # evaluated ONCE; is_contaminated reads the STAGED column
        # instead of re-inlining the intersect (the two withColumns
        # stay separate projections: non-cheap multiply-referenced
        # alias). Value-identical: for eval rows n_shared_grams is
        # NULL and when(is_train, NULL > 0) is NULL either way.
        x = one.crossJoin(F.broadcast(eval_row))
        keep = [n for n in x.columns if n not in ("__ghs", "__eval_grams")]
        # two projections on purpose: is_contaminated reads the STAGED
        # n_shared_grams (non-cheap multiply-referenced alias) — but
        # the withColumn/withColumn/drop chain folds into two selects
        # (r13 round-2 construction trim; value-identical)
        return x.select(*keep, n_shared.alias("n_shared_grams")).select(
            "*", F.when(is_train, F.col("n_shared_grams") > 0).alias("is_contaminated")
        )

    fused = doc_features_fused(
        docs,
        extra_cols=[
            role.alias("decon_role"),
            ghs.alias("__ghs"),
            TX.fingerprint_md5(t).alias("fp"),
        ],
        pre_window=pre_window,
        stage_cols=[TX.tokens(F.lower(t)).alias("__tkl")],
    )
    w_fp = Window.partitionBy("fp")
    keep = F.min("doc_id").over(w_fp)
    # one select instead of three withColumns (r13 round-2
    # construction trim; same columns, same order, same expressions)
    return fused.select(
        "*",
        keep.alias("fp_keep_id"),
        F.count(F.lit(1)).over(w_fp).alias("fp_n_docs"),
        (F.col("doc_id") != keep).alias("is_exact_dup"),
    )


@member(
    "doc_mixture_sample",
    doc="Mixture-plan APPLICATION (training-data op, closes the "
    "planner->sampler loop): each document keeps iff its deterministic "
    "md5 hash falls under its source's water-filled sampling rate from "
    "doc_mixture_plan — so the realized per-source token mass tracks "
    "the planned allocation without rand() (reproducible across "
    "engines/runs, same recipe as doc_stratified_sample). Scale: the "
    "per-source rate table is tiny and broadcast; the doc side is one "
    "scan + hash compare.",
    oracle="""
    WITH cap AS (
      SELECT source,
             CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                  x -> x <> ''))) AS BIGINT) AS capacity_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(floor(0.9 * sum(capacity_tokens)) AS DOUBLE) AS budget
      FROM cap
    ), w AS (
      SELECT c.source, c.capacity_tokens, t.budget,
             CAST(row_number() OVER ord AS BIGINT) AS i,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(sum(c.capacity_tokens) OVER (ord ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum
      FROM cap c, tot t
      WINDOW ord AS (ORDER BY c.capacity_tokens ASC, c.source ASC)
    ), f AS (
      SELECT *, min(CASE WHEN capacity_tokens * (n - i + 1)
                              <= budget - (cum - capacity_tokens)
                         THEN 1 ELSE 0 END)
               OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS flag
      FROM w
    ), k AS (
      SELECT *, max(CASE WHEN flag = 1 THEN i END) OVER () AS k_star,
                max(CASE WHEN flag = 1 THEN cum END) OVER () AS cum_k
      FROM f
    ), rates AS (
      SELECT source,
             round(CASE WHEN flag = 1 THEN 1.0
                   ELSE greatest((budget - coalesce(cum_k, 0))
                                 / (n - coalesce(k_star, 0)), 0)
                        / capacity_tokens END, 6) AS rate
      FROM k
    )
    SELECT d.doc_id,
           r.rate AS mx_rate,
           (('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
              % 1000000) < CAST(r.rate * 1000000 AS BIGINT) AS mx_keep
    FROM documents d JOIN rates r ON d.source = r.source
    """,
)
def doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    rates = doc_mixture_plan(spark, sf_dir).select(
        "source", F.col("sample_rate").alias("rate")
    )
    d = load_table(spark, sf_dir, "documents")
    h = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 1000000
    )
    return d.join(F.broadcast(rates), "source").select(
        "doc_id",
        F.col("rate").alias("mx_rate"),
        (h < (F.col("rate") * 1000000).cast("bigint")).alias("mx_keep"),
    )


@member(
    "doc_simhash_dups",
    doc="SimHash near-dup pairs (Manku/Charikar web-dedup recipe, "
    "completing the fingerprint->dedup loop for doc_simhash): 60-bit "
    "simhash split into 4 x 15-bit bands, candidates = pairs sharing "
    "an identical band (equi-join, never a cross join), exact "
    "popcount(xor) <= 3 filter on candidates only. Pigeonhole-"
    "LOSSLESS: hamming <= 3 over 4 bands forces >= 1 identical band, "
    "so unlike MinHash the blocking loses nothing.",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_transform(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                            x -> x <> ''),
                            s -> ('0x' || substr(md5('0:' || s), 1, 15))::BIGINT) AS h
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CAST(list_sum([CASE WHEN list_sum(list_transform(h,
                    x -> CASE WHEN (x >> bit) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                  THEN 1::BIGINT << bit ELSE 0 END
                  for bit in range(0, 60)]) AS BIGINT) AS sim
      FROM t WHERE len(h) > 0
    ), banded AS (
      SELECT doc_id, sim, b.band AS band,
             (sim >> (15 * b.band)) & 32767 AS key
      FROM sh, LATERAL unnest(range(0, 4)) AS b(band)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sim AS sim_a, b.sim AS sim_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS sh_hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= 3
    """,
)
def doc_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_pairs

    pairs = simhash_pairs(load_table(spark, sf_dir, "documents"), max_hamming=3, bands=4)
    return pairs.select("id_a", "id_b", F.col("sh_hamming").cast("int").alias("sh_hamming"))


@member(
    "doc_shard_plan",
    doc="Training-data export sharding (training-data op): each doc "
    "gets a deterministic shard (md5 hash mod 8 — reproducible, "
    "stratified-random like the samplers) and its within-shard "
    "position (row_number by doc_id) — the (shard, offset) addressing "
    "a distributed data loader consumes. Scale: one hash expression + "
    "one window partitioned BY SHARD (8-way parallel, never global).",
    oracle="""
    SELECT doc_id,
           shard AS export_shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id)
                - 1 AS BIGINT) AS shard_pos
    FROM (
      SELECT doc_id,
             CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % 8 AS INT) AS shard
      FROM documents
    )
    """,
)
def doc_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 8
    ).cast("int")
    w = Window.partitionBy("export_shard").orderBy("doc_id")
    return (
        d.select("doc_id", shard.alias("export_shard"))
        .withColumn("shard_pos", (F.row_number().over(w) - 1).cast("bigint"))
    )


@member(
    "doc_quality_drift",
    doc="Corpus distribution-drift monitor (training-data op, the "
    "ingestion gate that pairs with doc_incremental_dedup): the "
    "Population Stability Index of the quality-score distribution "
    "between the ingested snapshot (doc_id < 80%-of-max cutoff) and "
    "the incoming batch, over 10 fixed [0,1) buckets with add-one "
    "smoothing (no ln(0)). One row: PSI, populations, and the most "
    "shifted bucket. Scale: two filtered passes collapse to 10-bucket "
    "aggregates; everything after is O(buckets). The conventional "
    "read: PSI < 0.1 stable, 0.1-0.25 drifting, > 0.25 investigate.",
    oracle="""
    WITH cut AS (
      SELECT CAST(ceil(0.8 * (max(doc_id) + 1)) AS BIGINT) AS cutoff FROM documents
    ), q AS (
      SELECT doc_id, CAST({BUCKET} AS INT) AS bucket
      FROM (
        SELECT doc_id,
               CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    x -> x <> '')) AS BIGINT) AS nt,
               CAST(len(list_filter(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    x -> x <> ''), x -> lower(x) IN ('{SW}'))) AS BIGINT) AS sw,
               CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS np,
               CAST(length(text) AS BIGINT) AS ln
        FROM documents
      )
    ), sides AS (
      SELECT q.bucket,
             sum(CASE WHEN q.doc_id < cutoff THEN 1 ELSE 0 END) AS a_cnt,
             sum(CASE WHEN q.doc_id >= cutoff THEN 1 ELSE 0 END) AS b_cnt
      FROM q, cut GROUP BY q.bucket
    ), tot AS (
      SELECT sum(a_cnt) AS n_a, sum(b_cnt) AS n_b FROM sides
    ), terms AS (
      SELECT s.bucket,
             (s.a_cnt + 1.0) / (t.n_a + 10.0) AS p,
             (s.b_cnt + 1.0) / (t.n_b + 10.0) AS q,
             t.n_a, t.n_b
      FROM sides s, tot t
    )
    SELECT round({FOLD_PSI}, 6) AS psi,
           CAST(any_value(n_a) AS BIGINT) AS drift_n_snapshot,
           CAST(any_value(n_b) AS BIGINT) AS drift_n_incoming,
           CAST(max_by(bucket, abs(p - q)) AS INT) AS drift_top_bucket
    FROM terms
    """.replace("{SW}", _SW)
    .replace("{BUCKET}", TX.quality_bucket_sql("nt", "sw", "np", "ln"))
    .replace("{FOLD_PSI}", SEM.ordered_fold_sum_sql("(p - q) * ln(p / q)")),
)
def doc_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cut = d.agg(F.ceil(0.8 * (F.max("doc_id") + 1)).cast("bigint").alias("cutoff"))
    # decile bucket decided in exact integer arithmetic — a float
    # floor(score*10) flips the bucket when the exact score IS an edge
    bucket = F.expr(
        TX.quality_bucket_sql("__ts_nt", "__ts_sw", "__ts_np", "__ts_ln", div="div")
    ).cast("int")
    q = (
        d.select("doc_id", *TX.text_stat_stage_cols(F.col("text")))
        .select("doc_id", bucket.alias("bucket"))
        .crossJoin(F.broadcast(cut))
    )
    sides = q.groupBy("bucket").agg(
        F.sum(F.when(F.col("doc_id") < F.col("cutoff"), 1).otherwise(0)).alias("a_cnt"),
        F.sum(F.when(F.col("doc_id") >= F.col("cutoff"), 1).otherwise(0)).alias("b_cnt"),
    )
    tot = sides.agg(
        F.sum("a_cnt").alias("n_a"), F.sum("b_cnt").alias("n_b")
    )
    terms = sides.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_a",
        "n_b",
        ((F.col("a_cnt") + 1.0) / (F.col("n_a") + 10.0)).alias("p"),
        ((F.col("b_cnt") + 1.0) / (F.col("n_b") + 10.0)).alias("q"),
    )
    return terms.agg(
        # ordered fold over the 10 bucket terms (SEM.ordered_fold_sum)
        F.round(
            SEM.ordered_fold_sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))),
            6,
        ).alias("psi"),
        F.any_value(F.col("n_a")).cast("bigint").alias("drift_n_snapshot"),
        F.any_value(F.col("n_b")).cast("bigint").alias("drift_n_incoming"),
        F.max_by("bucket", F.abs(F.col("p") - F.col("q"))).cast("int").alias("drift_top_bucket"),
    )


# ---------------------------------------------------------------------------
# Model-based data selection: hashed-feature quality classifier + DSIR
# ---------------------------------------------------------------------------

# Hashing-trick dimensionality (Weinberger et al. 2009): every token maps
# to one of D buckets via a salted md5 — portable, so the DuckDB oracle
# reproduces the exact bucket ids. D is deliberately small here; a
# production filter uses 2^20+ buckets with the same plan shape.
_CLF_D = 512
_CLF_BIAS = -0.05
# Deterministic stand-in for a trained weight vector (LCG over the bucket
# id, values in [-1, 1]); inlined verbatim into the oracle SQL the way
# the LSH hyperplane literals are (plans/similarity.py), so both engines
# score identically. A real deployment swaps in fastText/logreg weights —
# the plan is identical: the model is a literal array riding the scan.
#
# Exactness (SCALE.md rule 5): the weights are n/1000 rationals by
# construction, so the per-doc fold accumulates the INTEGER numerators
# (BIGINT — exact, association-order-insensitive) and the float logit
# is produced by ONE identical expression in both engines:
#     logit = -0.05 + wsum_int / (1000.0 * n_tok)
# (1000.0*n_tok is exactly representable; one correctly-rounded IEEE
# division; one correctly-rounded add — bit-identical Spark vs DuckDB).
# Folding double weights instead left the two engines 1 ulp apart when
# their folds associated differently, and because these logits are
# rationals with denominator 1000*n_tok they can land EXACTLY on a
# round(x, 6) half-way boundary (e.g. 0.0350625), where 1 ulp flips
# the 6dp output — 4 of 149 oracle checks failed at sf0.1 until this.
_CLF_W_INT = [(1103515245 * b + 12345) % 2001 - 1000 for b in range(_CLF_D)]
_CLF_W = [wi / 1000.0 for wi in _CLF_W_INT]
_CLF_W_SQL = "[" + ", ".join(str(x) for x in _CLF_W_INT) + "]::BIGINT[]"


def _hash_bucket(tok, salt: str, d: int):
    """Portable md5 bucket id in [0, d) — same value computable in
    DuckDB as ('0x' || substr(md5(salt || ':' || tok), 1, 15))::BIGINT
    % d. Delegates to the single home of the portable-hash idiom
    (operators/dedup._md5_hash64)."""
    from ..operators.dedup import _md5_hash64

    return _md5_hash64(tok, salt) % d


@member(
    "doc_quality_classifier",
    doc="Classifier-based quality filtering (the GPT-3/LLaMA/fastText "
    "pipeline stage, Brown et al. 2020 Appendix A): a linear model "
    "over hashed unigram features — each token hashes into one of "
    "512 buckets (hashing trick, Weinberger et al. 2009), the doc "
    "logit is the mean bucket weight plus a bias, squashed to a "
    "keep-probability by a sigmoid. Weights are a deterministic "
    "literal vector inlined into both engines (a trained model "
    "drops in without changing the plan). Pure Catalyst expressions "
    "riding the scan: zero joins, zero shuffles, zero Python — the "
    "classifier is free at 100 TB.",
    oracle=f"""
    WITH w(wv) AS (SELECT {_CLF_W_SQL}),
    t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(toks,
               tk -> wv[CAST(('0x' || substr(md5('qb:' || tk), 1, 15))::BIGINT
                             % {_CLF_D} AS INT) + 1])) AS BIGINT) AS wsum,
             CAST(len(toks) AS BIGINT) AS n
      FROM t, w
    )
    SELECT doc_id,
           CASE WHEN n > 0 THEN
             {SEM.round6_ratio_sql('wsum - 50 * n', '1000 * n')} END AS clf_logit,
           CASE WHEN n > 0 THEN
             round(1.0 / (1.0 + exp(-({_CLF_BIAS!r}
               + CAST(wsum AS DOUBLE) / (1000.0 * n)))), 6) END AS clf_prob,
           CASE WHEN n > 0 THEN
             {SEM.round6_ratio_sql('wsum - 50 * n', '1000 * n')} >= 0 END AS clf_keep
    FROM s
    """,
)
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", *clf_stage_cols()).select(
        "doc_id", *clf_output_cols()
    )


def clf_stage_cols(toks=None) -> list:
    """The classifier fold over the raw `text` column, staged as TWO
    exact integer columns (`__clf_wsum` BIGINT, `__clf_ntok` BIGINT)
    — shared by the member, the fused one-pass forms, and the
    streaming quality gate so they stay definitionally identical.
    Staged as their OWN projection before the outputs are derived, so
    the plan carries ONE fold instead of three (CollapseProject keeps
    the stages apart: non-cheap, multiply-referenced alias).

    The fold accumulates the INTEGER weight numerators (the weights
    are n/1000 rationals by construction), so the sum is exact and
    association-order-insensitive — see the _CLF_W_INT note for why
    a double fold broke the oracle hash at sf0.1.

    `toks` optionally supplies a pre-staged lower-token array column
    (r12 optimization round) so the fused form skips two tokenize
    passes (the fold's and size()'s) — value-identical."""
    warr = F.array(*[F.lit(w) for w in _CLF_W_INT])
    toks = TX.tokens(F.lower(F.col("text"))) if toks is None else toks
    wsum = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc
        + F.element_at(warr, (_hash_bucket(t, "qb", _CLF_D) + 1).cast("int")),
    )
    return [
        wsum.alias("__clf_wsum"),
        F.size(toks).cast("bigint").alias("__clf_ntok"),
    ]


# staged column names to drop after clf_output_cols() is applied
CLF_STAGE_NAMES = ("__clf_wsum", "__clf_ntok")


def clf_output_cols() -> list:
    """The three classifier outputs derived from the staged exact
    integers. `clf_logit` is the EXACT half-up 6dp rounding of the
    rational (wsum - 50n)/(1000n) computed in integer arithmetic
    (functions/semantics.round6_ratio) — engine round primitives
    disagree at .5e-6 boundaries these rationals CAN land on exactly.
    `clf_keep` compares that same rounded value so the emitted columns
    are self-consistent at the decision boundary (a raw logit of
    -4e-7 must not report clf_logit = -0.0 with clf_keep False).
    `clf_prob` squashes the float logit — transcendental, so its
    boundary exposure is measure-zero (tracked by the round-gate
    boundary canary, not exactness-pinned)."""
    n = F.col("__clf_ntok")
    wsum = F.col("__clf_wsum")
    has = n > 0
    logit_f = F.lit(_CLF_BIAS) + wsum.cast("double") / (F.lit(1000.0) * n)
    rounded = SEM.round6_ratio(
        "__clf_wsum - 50 * __clf_ntok", "1000 * __clf_ntok"
    )
    return [
        F.when(has, rounded).alias("clf_logit"),
        F.when(has, F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit_f)), 6)).alias(
            "clf_prob"
        ),
        F.when(has, rounded >= 0).alias("clf_keep"),
    ]


# threshold grid for the selection curve, in exact milli-logit units
_CURVE_THR_MILLI = list(range(-50, 51, 10))


@member(
    "doc_selection_curve",
    doc="Classifier operating-point pricing: the (threshold -> kept "
    "docs, kept token mass) curve a team reads to PICK the quality "
    "cut before burning a 100 TB pass — one row per candidate "
    "threshold. The kept test compares the SAME 6dp-ROUNDED logit the "
    "gate cuts on (clf_keep = rounded logit >= 0), as its q-scaled "
    "integer: q = half-up((wsum - 50n)*1e6 / (1000n)) >= thr_milli*1000 "
    "— exact integer arithmetic end to end, AND the thr=0 row equals "
    "exactly what clf_keep / the streaming gates pass (a raw-logit "
    "test disagrees on docs whose logit rounds ONTO the cut, e.g. "
    "-4.9e-7 -> 0.0 -> kept). One corpus scan cross-joined with the "
    "11-row broadcast threshold grid, partial aggregation ships 11 "
    "rows per partition.",
    oracle=f"""
    WITH w(wv) AS (SELECT {_CLF_W_SQL}),
    t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(toks,
               tk -> wv[CAST(('0x' || substr(md5('qb:' || tk), 1, 15))::BIGINT
                             % {_CLF_D} AS INT) + 1])) AS BIGINT) AS wsum,
             CAST(len(toks) AS BIGINT) AS n
      FROM t, w
    ), sq AS (
      SELECT doc_id, n,
             CASE WHEN n > 0 THEN
               {SEM.round6_q_sql('wsum - 50 * n', '1000 * n')} END AS q
      FROM s
    ), thr(thr_milli) AS (
      SELECT CAST(unnest(range(-50, 51, 10)) AS INT)
    ), agg AS (
      SELECT thr_milli,
             CAST(count(*) FILTER (WHERE q >= thr_milli * 1000)
                  AS BIGINT) AS kept_docs,
             CAST(coalesce(sum(n) FILTER (
                  WHERE q >= thr_milli * 1000), 0)
                  AS BIGINT) AS kept_tokens,
             CAST(count(*) AS BIGINT) AS total_docs
      FROM sq CROSS JOIN thr
      GROUP BY thr_milli
    )
    SELECT thr_milli, thr_milli / 1000.0 AS threshold,
           kept_docs, kept_tokens, total_docs,
           {SEM.round6_ratio_sql('kept_docs', 'total_docs')} AS kept_doc_share
    FROM agg
    """,
)
def doc_selection_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    staged = d.select(*clf_stage_cols())
    thr = spark.createDataFrame(
        [(m,) for m in _CURVE_THR_MILLI], "thr_milli int"
    )
    n, tm = F.col("__clf_ntok"), F.col("thr_milli")
    # the gate's OWN quantity: the q-scaled rounded logit (clf_keep is
    # q >= 0), so every curve row prices exactly what the gate passes
    q = F.when(
        n > 0, SEM.round6_q("__clf_wsum - 50 * __clf_ntok", "1000 * __clf_ntok")
    )
    staged = staged.withColumn("__q", q)
    kept = F.col("__q") >= tm.cast("bigint") * 1000
    return (
        staged.crossJoin(F.broadcast(thr))
        .groupBy("thr_milli")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).alias("kept_docs"),
            F.coalesce(F.sum(F.when(kept, n)), F.lit(0)).cast("bigint").alias("kept_tokens"),
            F.count(F.lit(1)).alias("total_docs"),
        )
        .select(
            "thr_milli",
            (tm / F.lit(1000.0)).alias("threshold"),
            "kept_docs",
            "kept_tokens",
            "total_docs",
            SEM.round6_ratio("kept_docs", "total_docs").alias("kept_doc_share"),
        )
    )


_DSIR_D = 512


@member(
    "doc_dsir_weight",
    doc="Data Selection via Importance Resampling (DSIR, Xie et al. "
    "2023): per document, the mean log-likelihood ratio of its tokens "
    "under two hashed-unigram bucket models — the target domain "
    "(lang='en' docs stand in for the in-domain sample; production "
    "swaps in an actual target corpus) vs the raw corpus — with "
    "add-one smoothing over the 512 buckets; docs at or above the "
    "70th-percentile log-weight are selected. Shape: tokens collapse "
    "to a bucket-grain count table (bounded at D=512 rows regardless "
    "of corpus size — no Heaps'-law vocab axis), persisted so the "
    "totals (1-row broadcast, the winsorize shape) and the scoring "
    "join share one tokenize; the percentile cut is a second 1-row "
    "broadcast. No corpus-wide window, no product.",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5('dsir:' || lower(t.tok)), 1, 15))::BIGINT
               % {_DSIR_D} AS b
      FROM documents,
      LATERAL unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x <> '')) AS t(tok)
    ),
    counts AS (
      SELECT b, CAST(count(*) AS DOUBLE) AS n_raw,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS n_tgt
      FROM tok GROUP BY b
    ),
    tot AS (SELECT sum(n_raw) AS nr, sum(n_tgt) AS nt FROM counts),
    rates AS (
      SELECT b, ln((n_tgt + 1) / (tot.nt + {_DSIR_D}))
               - ln((n_raw + 1) / (tot.nr + {_DSIR_D})) AS llr
      FROM counts, tot
    ),
    perdoc AS (
      SELECT tok.doc_id,
             round({SEM.ordered_fold_sum_sql('r.llr')} / count(*), 6) AS dsir_logw
      FROM tok JOIN rates r USING (b)
      GROUP BY tok.doc_id
    ),
    cut AS (SELECT round(quantile_cont(dsir_logw, 0.7), 6) AS c FROM perdoc)
    SELECT perdoc.doc_id, perdoc.dsir_logw,
           perdoc.dsir_logw >= cut.c AS dsir_selected
    FROM perdoc, cut
    """,
)
def doc_dsir_weight(
    spark: SparkSession, sf_dir: str, *, persisted_out: list | None = None
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("term"),
    ).select("doc_id", "lang", _hash_bucket(F.col("term"), "dsir", _DSIR_D).alias("b"))
    # bucket-grain count table: bounded at D rows by construction, so
    # (unlike the unigram vocab table) it can never outgrow an executor;
    # persisted so the totals and the scoring join share one tokenize.
    # Cache lifetime: one shared CacheManager entry per identical plan —
    # see doc_vocab_stats for the full note.
    counts = (
        tok.groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_raw"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("double")
            .alias("n_tgt"),
        )
        .persist()
    )
    if persisted_out is not None:
        persisted_out.append(counts)
    tot = counts.agg(F.sum("n_raw").alias("nr"), F.sum("n_tgt").alias("nt"))
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("n_tgt") + 1) / (F.col("nt") + _DSIR_D))
            - F.log((F.col("n_raw") + 1) / (F.col("nr") + _DSIR_D))
        ).alias("llr"),
    )
    per_doc = (
        tok.join(rates, "b")
        .groupBy("doc_id")
        # ordered fold, not avg(): shuffle-order-independent low bits
        # (SEM.ordered_fold_sum — the latent-exactness hardening)
        .agg(
            F.round(
                SEM.ordered_fold_sum(F.col("llr")) / F.count(F.lit(1)), 6
            ).alias("dsir_logw")
        )
    )
    cut = per_doc.agg(
        F.round(F.expr("percentile(dsir_logw, 0.7D)"), 6).alias("__c")
    )
    return (
        per_doc.crossJoin(F.broadcast(cut))
        .select(
            "doc_id",
            "dsir_logw",
            (F.col("dsir_logw") >= F.col("__c")).alias("dsir_selected"),
        )
    )


# winnowing parameters: k-token grams, min-selected over W consecutive
# gram hashes => ANY shared token run of length >= k + W - 1 between two
# docs shares at least one fingerprint, regardless of alignment (the
# winnowing guarantee — Schleimer, Wilkerson, Aiken, SIGMOD 2003).
_WN_K = 8
_WN_W = 8


@member(
    "doc_winnowed_spans",
    doc="Alignment-robust repeated-span detection via winnowing "
    "fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS "
    "algorithm; the Spark-shaped stand-in for suffix-array ExactSubstr "
    "dedup, Lee et al. 2022): per doc, every overlapping 8-token gram "
    "is hashed (portable md5), each window of 8 consecutive gram "
    "hashes keeps its minimum, and the distinct selected fingerprints "
    "are scored against corpus document frequency. Any token run of "
    ">= 15 shared tokens between two docs is guaranteed to share a "
    "fingerprint AT ANY OFFSET — the modality fixed-chunk dedup "
    "(doc_chunk_dedup) structurally misses for shifted copies. "
    "Fingerprint density is ~2/(W+1) of positions, so the exploded "
    "volume is ~22% of token count; the df table is the same "
    "posting-list shape as the other dedup operators (map-side "
    "combine, equi-join back, never a product).",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= {_WN_K + _WN_W - 1} THEN
               list_transform(range(1, len(toks) - {_WN_K} + 2),
                 p -> ('0x' || substr(md5('0:' ||
                        array_to_string(list_slice(toks, p, p + {_WN_K} - 1), ' ')),
                      1, 15))::BIGINT)
             ELSE []::BIGINT[] END AS hs
      FROM t
    ), f AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(hs) - {_WN_W} + 2),
               i -> list_min(list_slice(hs, i, i + {_WN_W} - 1)))) AS fps
      FROM g
    ), win AS (
      SELECT doc_id, unnest(fps) AS fp FROM f
    ), df AS (
      SELECT fp, count(DISTINCT doc_id) AS df FROM win GROUP BY fp
    ), agg AS (
      SELECT win.doc_id,
             CAST(count(*) AS BIGINT) AS wn_fingerprints,
             CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS wn_shared
      FROM win JOIN df USING (fp) GROUP BY win.doc_id
    )
    SELECT d.doc_id,
           coalesce(a.wn_fingerprints, 0) AS wn_fingerprints,
           coalesce(a.wn_shared, 0) AS wn_shared,
           CASE WHEN a.wn_fingerprints > 0
                THEN round(a.wn_shared * 1.0 / a.wn_fingerprints, 6) END
             AS wn_shared_frac,
           CASE WHEN a.wn_fingerprints > 0
                THEN a.wn_shared * 2 >= a.wn_fingerprints END AS wn_dup_flag
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def doc_winnowed_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnowed_spans(load_table(spark, sf_dir, "documents"))


def winnowed_spans(d: DataFrame) -> DataFrame:
    """DataFrame-level core of doc_winnowed_spans (also driven by
    tools/stress_dedup.py on the replica corpus)."""
    from ..operators.dedup import _md5_hash64

    # Each stage is materialized as its own projection column: inlining
    # `toks` into the per-position lambda would re-run the whole
    # tokenize for EVERY window position (Catalyst does not CSE
    # subexpressions across lambda bodies; CollapseProject keeps the
    # stages separate because each output feeds many references) —
    # measured 36 s -> 4.4 s cold / 1.2 s warm on a 1.5k-doc corpus.
    toks = TX.tokens(F.lower(F.col("text")))
    staged = d.select("doc_id", toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    # all overlapping k-gram hashes (stride 1 — winnowing needs the
    # full lattice so min-selection is content-defined). Same zip
    # idiom as functions/text.shingles (k literal-start slices zipped
    # into one struct array — k allocations per ROW, then a flat
    # walk): neutral at this doc length, but shingles measured
    # per-position slice() ~60x slower on long docs.
    m = n - (_WN_K - 1)
    z = F.arrays_zip(*[F.slice("__toks", j + 1, m) for j in range(_WN_K)])
    grams = F.transform(
        z,
        lambda s: _md5_hash64(
            F.concat_ws(" ", *[s[str(j)] for j in range(_WN_K)]), 0
        ),
    )
    staged = staged.select(
        "doc_id",
        F.when(n >= _WN_K + _WN_W - 1, grams)
        .otherwise(F.array().cast("array<bigint>"))
        .alias("__grams"),
    )
    mg = F.size("__grams") - (_WN_W - 1)
    zg = F.arrays_zip(*[F.slice("__grams", j + 1, mg) for j in range(_WN_W)])
    fps = F.array_distinct(
        F.transform(zg, lambda s: F.least(*[s[str(j)] for j in range(_WN_W)]))
    )
    guarded = F.when(F.size("__grams") >= _WN_W, fps).otherwise(
        F.array().cast("array<bigint>")
    )
    win = staged.select("doc_id", F.explode(guarded).alias("fp"))
    df_tab = win.groupBy("fp").agg(F.countDistinct("doc_id").alias("df"))
    agg = (
        win.join(df_tab, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("wn_fingerprints"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("wn_shared"),
        )
    )
    return (
        d.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("wn_fingerprints", F.lit(0)).alias("wn_fingerprints"),
            F.coalesce("wn_shared", F.lit(0)).alias("wn_shared"),
            F.when(
                F.col("wn_fingerprints") > 0,
                F.round(F.col("wn_shared") / F.col("wn_fingerprints"), 6),
            ).alias("wn_shared_frac"),
            F.when(
                F.col("wn_fingerprints") > 0,
                F.col("wn_shared") * 2 >= F.col("wn_fingerprints"),
            ).alias("wn_dup_flag"),
        )
    )
