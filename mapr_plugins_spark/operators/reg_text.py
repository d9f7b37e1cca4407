"""Text-analysis extension queries + DuckDB oracles.

Every ``q<n>_``/``x_`` function defined here is a registry key (the
``mapr_plugins_spark.discovery`` rule); ``oracles()`` maps keys to
their DuckDB SQL.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from mapr_plugins_spark.catalog import table as _t
from mapr_plugins_spark.functions.portable_hash import seeded_hash60_sql
from mapr_plugins_spark.operators import text as X
from mapr_plugins_spark.plans.partitioning import fan_out
from mapr_plugins_spark.operators.reg_common import _TOKS_SQL
_CANON_DUCK = r"regexp_replace(lower(text), '\s+', ' ', 'g')"


def _bm25_ctes() -> str:
    """CTE chain ending in ``bm (doc_id, bm25)`` — expression structure
    mirrors the Spark build exactly (same associativity, same constant
    folding), so scores are bit-identical doubles."""
    q = ", ".join(f"'{t}'" for t in _BM25_QUERY)
    fcols = ", ".join(
        f"sum(s) FILTER (WHERE token = '{t}') AS s_{t}" for t in _BM25_QUERY
    )
    fsum = " + ".join(f"coalesce(s_{t}, 0.0)" for t in _BM25_QUERY)
    return f"""tc AS (
            SELECT doc_id, token, count(*) AS cnt
            FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents)
            GROUP BY 1, 2
        ),
        dl AS (SELECT doc_id, sum(cnt) AS n_tok FROM tc GROUP BY 1),
        st AS (SELECT token, count(*) AS doc_freq FROM tc GROUP BY 1),
        nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        ad AS (SELECT CAST(sum(n_tok) AS DOUBLE) / count(*) AS avgdl FROM dl),
        pt AS (
            SELECT tc.doc_id, tc.token,
                   ((nd.n - st.doc_freq + 0.5) / (st.doc_freq + 0.5))
                   * (tc.cnt * ({_BM25_K1} + 1))
                   / (tc.cnt + {_BM25_K1}
                      * (1 - {_BM25_B} + {_BM25_B} * dl.n_tok / ad.avgdl)) AS s
            FROM tc
            JOIN dl USING (doc_id) JOIN st USING (token)
            CROSS JOIN nd CROSS JOIN ad
            WHERE tc.token IN ({q})
        ),
        g AS (SELECT doc_id, {fcols} FROM pt GROUP BY 1),
        bm AS (SELECT doc_id, {fsum} AS bm25 FROM g)"""


def q23_text_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.term_frequencies(_t(spark, sf_dir, "documents"), top_n=50)


def x_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return X.with_language_id(docs).select("doc_id", "lang_pred", "lang_score")


def x_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return X.quality_features(docs).select(
        "doc_id", "n_tokens", "mean_token_len", "stopword_ratio", "digit_ratio", "quality_score"
    )


def x_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return X.token_counts(docs).select("doc_id", "ws_tokens", "bpe_tokens")


def x_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return X.fingerprint(docs).select("doc_id", "fp", "fp_hex")


def _with_injected_pii(docs: DataFrame) -> DataFrame:
    """documents with deterministic synthetic PII appended (the raw
    corpus contains none, so redaction would be a no-op)."""
    d = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            d.cast("string"),
            F.lit("@example.com via +1-555-"),
            F.lpad((d % 10000).cast("string"), 4, "0"),
            F.lit(" from 10."),
            (d % 256).cast("string"),
            F.lit(".0."),
            (d % 100).cast("string"),
        ).alias("text"),
    )


def x_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_injected_pii(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return X.redact_pii(docs).select("doc_id", "clean_text", "n_redacted")


def x_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return X.repetition_features(docs).select(
        "doc_id", "n_tokens", "dup_token_frac", "top_token_frac", "top_bigram_frac"
    )


_BM25_QUERY = ("spark", "query", "join")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BM25 for the fixed query — log-free idf ratio
    ``(N - df + 0.5)/(df + 0.5)`` (monotone in the standard log idf, so
    ranking is preserved and the score is pure rational double
    arithmetic — bit-identical across engines; libm log() is not).
    Per-term scores are summed in FIXED column order via conditional
    aggregation, so no float-sum reorder can flip a rank."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tok_counts = (
        docs.select("doc_id", F.explode(X.tokens_col("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    doc_len = tok_counts.groupBy("doc_id").agg(F.sum("cnt").alias("n_tok"))
    stats = tok_counts.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = docs.count()
    avgdl = doc_len.agg(
        (F.sum("n_tok").cast("double") / F.count(F.lit(1))).alias("a")
    ).collect()[0]["a"]
    k1, b = _BM25_K1, _BM25_B
    term = (
        ((F.lit(float(n_docs)) - F.col("doc_freq") + 0.5) / (F.col("doc_freq") + 0.5))
        * (F.col("cnt") * (k1 + 1))
        / (F.col("cnt") + k1 * (1 - b + b * F.col("n_tok") / F.lit(avgdl)))
    )
    per_term = (
        tok_counts.filter(F.col("token").isin(*_BM25_QUERY))
        .join(doc_len, "doc_id")
        .join(F.broadcast(stats), "token")
        .select("doc_id", "token", term.alias("s"))
    )
    parts = [
        F.sum(F.when(F.col("token") == t, F.col("s"))).alias(f"s_{t}")
        for t in _BM25_QUERY
    ]
    g = per_term.groupBy("doc_id").agg(*parts)
    score = None
    for t in _BM25_QUERY:
        c = F.coalesce(F.col(f"s_{t}"), F.lit(0.0))
        score = c if score is None else score + c
    return g.select("doc_id", score.alias("bm25"))


def x_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn an 8-merge BPE table from the corpus (count desc /
    lexicographic tie-break argmax per round); the oracle replays the
    identical training loop as a chained-CTE round unrolling."""
    docs = _t(spark, sf_dir, "documents").select("text")
    return X.bpe_train(docs, n_merges=8)


def x_bpe_train_collected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-merge-count BPE trainer (one corpus-sized word
    count in Spark, merge loop driver-side over the bounded collected
    vocabulary — the 30k-merge architecture, see SCALE.md): same
    8-merge table as x_bpe_train, graded by the same chained-CTE
    oracle, with round-for-round equality to the distributed trainer
    additionally pinned in tests."""
    docs = _t(spark, sf_dir, "documents").select("text")
    return X.bpe_train_collected(docs, n_merges=8)


def _bpe_train_oracle(n_merges: int = 8) -> str:
    """Unroll the BPE training rounds as chained CTEs: w{r} is the
    vocabulary after r merges; p{r}/m{r} are round r's weighted pair
    counts and argmax. Same representation (space-terminated symbols)
    and same boundary-safe replace as the Spark loop."""
    ctes = [
        """w0 AS (
            SELECT regexp_replace(w, '(.)', ' \\1 ', 'g') AS sym,
                   CAST(COUNT(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            WHERE w <> '' GROUP BY 1
        )"""
    ]
    for r in range(n_merges):
        ctes.append(f"""p{r} AS (
            SELECT l, r2, CAST(SUM(freq) AS BIGINT) AS c FROM (
                SELECT freq,
                       unnest(sy[1:len(sy) - 1]) AS l,
                       unnest(sy[2:len(sy)]) AS r2
                FROM (
                    SELECT freq,
                           list_filter(string_split(sym, ' '),
                                       x -> x <> '') AS sy
                    FROM w{r}
                ) WHERE len(sy) >= 2
            ) GROUP BY l, r2
        )""")
        ctes.append(
            f"m{r} AS (SELECT l, r2, c FROM p{r} ORDER BY c DESC, l, r2 LIMIT 1)"
        )
        ctes.append(f"""w{r + 1} AS (
            SELECT replace(sym,
                           ' ' || m.l || '  ' || m.r2 || ' ',
                           ' ' || m.l || m.r2 || ' ') AS sym,
                   freq
            FROM w{r}, m{r} m
        )""")
    finals = "\n            UNION ALL ".join(
        f"SELECT CAST({r + 1} AS INTEGER) AS rank, l AS merge_left,"
        f" r2 AS merge_right, c AS pair_count FROM m{r}"
        for r in range(n_merges)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals


def x_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (top-3 collocates per head token,
    c_ab >= 5): the phrase-detection ratio kept log-free as an exact
    integer rational (num = c_ab·N, den = c_a·c_b)."""
    docs = _t(spark, sf_dir, "documents").select("text")
    return X.pmi_collocations(docs, min_count=5, top_k=3)


def x_text_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signals, log-free (pure rational
    arithmetic → bit-identical across engines): type-token ratio and
    Simpson repeat probability sum((n_t/N)²) — the entropy-adjacent
    filter that needs no libm log."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = fan_out(docs).withColumn("__toks", X.tokens_col("text"))
    n = F.size("__toks")
    # sorted distinct tokens: the float fold visits terms in the SAME
    # canonical order as the oracle's list_sort, so the sum is
    # bit-identical
    counts = F.expr(
        "transform(array_sort(array_distinct(__toks)),"
        " t -> size(filter(__toks, x -> x = t)))"
    )
    simpson = F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, c: acc
        + (c.cast("double") / n.cast("double")) * (c.cast("double") / n.cast("double")),
    )
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        (F.size(F.array_distinct("__toks")).cast("double") / n).alias("type_token_ratio"),
        simpson.alias("simpson"),
    )


def x_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 scores for the fixed 3-token query (k1=1.2, b=0.75)."""
    return _bm25_scores(spark, sf_dir)


def x_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25
    ranking with the embedding-cosine ranking against probe vector 0 —
    the standard lexical+dense fusion. Both rank lists are top-k-sized
    (tiny), so the windows and the fusion join are metadata-scale even
    when the underlying corpus is not."""
    from pyspark.sql import Window

    from mapr_plugins_spark.functions.vectors import cosine_similarity

    bm = _bm25_scores(spark, sf_dir)
    r1 = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .alias("r1"),
    )
    emb = _t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("probe"))
    sims = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine_similarity("embedding", "probe").alias("sim"),
        )
    )
    r2 = sims.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("sim").desc(), F.col("doc_id").asc()))
        .alias("r2"),
    )
    fused = (
        r1.join(r2, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(F.lit(1.0) / (60 + F.col("r1")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (60 + F.col("r2")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(20)


def x_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token → sorted posting list + document frequency. One shuffle on
    token; at corpus scale the long tail is tiny and head postings are
    the skew case — cap or delta-encode heads before shipping to a
    serving store."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = docs.select(
        "doc_id", F.explode(X.tokens_col("text")).alias("token")
    ).distinct()
    return pairs.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("postings"),
    )


def x_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF (smoothed log-free idf ratio) per (doc, token)."""
    return X.tfidf(_t(spark, sf_dir, "documents").select("doc_id", "text"))


def x_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM quality score per doc (log-free
    KenLM-filter stand-in): mean add-one-smoothed bigram probability,
    exact-decimal deterministic mean."""
    return X.bigram_lm_score(_t(spark, sf_dir, "documents").select("doc_id", "text"))


def x_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity bucketing (Wenzek et al. 2020, public): per
    source, rank documents by LM quality and split into head / middle
    / tail TERCILES; the pipeline keeps head+middle. Composed from the
    graded bigram LM score (log-free, bit-exact cross-engine) + exact
    integer rank arithmetic — (rank−1)·3 DIV n, no percentile
    convention — so the full-value oracle replays ranks and verdicts
    exactly. One window shuffle on the source key; the LM stage's
    count tables shuffle bigrams, never documents."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    lm = X.bigram_lm_score(docs.select("doc_id", "text"))
    j = lm.select("doc_id", "lm_score").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    w = Window.partitionBy("source").orderBy(
        F.col("lm_score").desc(), F.col("doc_id")
    )
    ranked = j.select(
        "doc_id",
        "source",
        "lm_score",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("__n"),
    )
    bucket = F.expr("CAST((__rn - 1) * 3 DIV __n AS INT)")
    return ranked.select(
        "doc_id",
        "source",
        "lm_score",
        bucket.alias("bucket"),
        F.when(bucket == 0, "head")
        .when(bucket == 1, "middle")
        .otherwise("tail")
        .alias("verdict"),
        (bucket <= 1).alias("keep"),
    )


def x_mojibake_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-artifact (mojibake) detection over the corpus with
    deterministically injected damage — docs ≡0 (mod 7) get a
    UTF-8-as-Latin-1 suffix, docs ≡0 (mod 13) a replacement-character
    suffix — so the detector has real positives to find and the
    oracle replays injection AND detection. Length-arithmetic literal
    counting, no regex, zero shuffle."""
    from mapr_plugins_spark.operators.text import mojibake_detect

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    k = F.col("doc_id")
    damaged = docs.select(
        "doc_id",
        F.when(k % 7 == 0, F.concat(F.col("text"), F.lit(" cafÃ© â€” naÃ¯ve")))
        .when(k % 13 == 0, F.concat(F.col("text"), F.lit(" bad�byte")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return mojibake_detect(damaged)


def x_text_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (Arrow-vectorized pandas UDF over
    ``unicodedata``) differentially tested against DuckDB's utf8proc
    ``nfc_normalize`` — two independent implementations of the Unicode
    algorithm must agree byte-for-byte. The ASCII corpus is first
    seeded with decomposed accents (a → a+U+0301) in-plan, identically
    on both engines, so composition genuinely fires on every row."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.replace(F.col("text"), F.lit("a"), F.lit("a\u0301")).alias("text")
    )
    out = X.nfc_normalize(docs)
    return out.select(
        "doc_id", "norm_text", (F.col("norm_text") != F.col("text")).alias("changed")
    )


def x_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The named Gopher quality-rule set (word count / mean word length
    / required stopword hits) with per-doc verdict + first failing
    rule — the citable filter production corpora apply before
    training."""
    # required list adapted to the synthetic corpus vocabulary ("a"/
    # "the" are its only function words) so BOTH verdicts actually
    # occur; the canonical English list is the module default.
    return X.gopher_rules(
        _t(spark, sf_dir, "documents"),
        min_words=30,
        required=("the", "a", "and", "of", "to", "be", "have", "with"),
    )


def x_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility report (chars/token compression,
    tokens/word fertility) over the shipped BPE merge chain — the
    tokenizer bake-off numbers, in exact integer-rational micro
    units."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return X.tokenizer_fertility(docs)


def _fertility_oracle() -> str:
    expr = r"regexp_replace(w, '(.)', ' \1 ', 'g')"
    for a, b in X.BPE_MERGES:
        expr = f"replace({expr}, '{X._wrap(a)}', '{X._wrap(b)}')"
    return f"""
        WITH e AS (
            SELECT doc_id, source,
                   string_split(text, ' ') AS words,
                   list_transform(string_split(text, ' '), w -> {expr})
                       AS encw,
                   CAST(strlen(text)
                        - (len(string_split(text, ' ')) - 1) AS BIGINT)
                       AS word_chars
            FROM documents
        ),
        per AS (
            SELECT source, word_chars,
                   CAST(len(words) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(encw,
                        e -> (strlen(e) - strlen(replace(e, ' ', ''))) // 2))
                        AS BIGINT) AS n_tok
            FROM e
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(word_chars) AS BIGINT) AS total_chars,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               CAST(SUM(n_words) AS BIGINT) AS total_words,
               CAST((SUM(word_chars) * 1000000) // SUM(n_tok) AS BIGINT)
                   AS chars_per_token_micro,
               CAST((SUM(n_tok) * 1000000) // SUM(n_words) AS BIGINT)
                   AS tokens_per_word_micro
        FROM per GROUP BY source
    """


def x_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization as a pure codegen expression chain (fixed merge
    table = the shipped tokenizer artifact): per-doc word count,
    post-merge token count, and the first word's token sequence. The
    oracle replays the identical ordered replace chain, built from the
    same merge table."""
    return X.bpe_encode(_t(spark, sf_dir, "documents"))


def x_bpe_encode_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization via the Arrow-batched pandas-UDF encoder —
    O(1) plan size in the merge-table length, the path that survives a
    30k-merge production tokenizer where the codegen replace chain of
    x_bpe_encode blows up Catalyst (SCALE.md's plan-size trap; the
    encoder twin of bpe_train_collected). Same output, same oracle as
    x_bpe_encode; row-for-row equality with the chain is additionally
    pinned at thousands of merges in tests/test_text.py."""
    return X.bpe_encode_fast(_t(spark, sf_dir, "documents"))


def _bpe_oracle() -> str:
    expr = r"regexp_replace(w, '(.)', ' \1 ', 'g')"
    for a, b in X.BPE_MERGES:
        expr = f"replace({expr}, '{X._wrap(a)}', '{X._wrap(b)}')"
    return f"""
        WITH e AS (
            SELECT doc_id,
                   string_split(text, ' ') AS words,
                   list_transform(string_split(text, ' '), w -> {expr}) AS encw
            FROM documents
        )
        SELECT doc_id,
               CAST(len(words) AS INTEGER) AS n_words,
               CAST(list_sum(list_transform(encw,
                    e -> (strlen(e) - strlen(replace(e, ' ', ''))) // 2))
                    AS INTEGER)
                   AS n_bpe_tokens,
               replace(trim(encw[1]), '  ', ' ') AS first_word_bpe
        FROM e
    """


#: Bigram-LM oracle CTE chain, shared VERBATIM between x_lm_score
#: and the CCNet bucketing key (the shared-constant pattern that
#: lets one driver row certify the other key's core arithmetic).
_LM_SCORE_CTES = """
            WITH base AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
                WHERE len(string_split(text, ' ')) >= 2
            ),
            bgs AS (
                SELECT doc_id, s['w1'] AS w1, s['bg'] AS bg FROM (
                    SELECT doc_id,
                           unnest(list_transform(range(1, len(w)),
                               i -> {'w1': w[i], 'bg': w[i] || ' ' || w[i+1]}))
                               AS s
                    FROM base)
            ),
            c2 AS (SELECT bg, COUNT(*) AS c2 FROM bgs GROUP BY bg),
            c1 AS (SELECT w1, COUNT(*) AS c1 FROM bgs GROUP BY w1),
            voc AS (
                SELECT COUNT(DISTINCT t) AS v
                FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
            ),
            p AS (
                SELECT b.doc_id,
                       (c2.c2 + 1.0) / (c1.c1 + voc.v) AS p
                FROM bgs b
                JOIN c2 USING (bg)
                JOIN c1 USING (w1)
                CROSS JOIN voc
            )"""

_LM_SCORE_ORACLE = _LM_SCORE_CTES + """
        SELECT doc_id, COUNT(*) AS n_bigrams,
                   CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE)
                       / CAST(COUNT(p) AS DOUBLE) AS lm_score
            FROM p GROUP BY doc_id
"""


def _langid_oracle() -> str:
    score_cols = ", ".join(
        "CAST(len(list_filter(toks, x -> x IN ({w}))) AS DOUBLE) / len(toks) AS s_{lang}".format(
            w=", ".join(f"'{t}'" for t in words), lang=lang
        )
        for lang, words in X.STOPWORDS.items()
    )
    m = "greatest(" + ", ".join(f"s_{lang}" for lang in X.STOPWORDS) + ")"
    case = " ".join(f"WHEN s_{lang} = m THEN '{lang}'" for lang in sorted(X.STOPWORDS))
    return f"""
        WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
        s AS (SELECT doc_id, {score_cols} FROM t WHERE len(toks) > 0)
        SELECT doc_id, CASE {case} END AS lang_pred, m AS lang_score
        FROM (SELECT *, {m} AS m FROM s)
    """


_PII_INJECT_SQL = """
    SELECT doc_id,
           text || ' contact user' || doc_id || '@example.com via +1-555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                || ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) AS text
    FROM documents
"""


def _pii_redact_oracle() -> str:
    """Sequential count-then-replace chain, one CTE per pattern —
    mirrors operators/text.py::redact_pii exactly."""
    sql = f"WITH r0 AS ({_PII_INJECT_SQL})"
    prev, counts = "r0", []
    for i, (pat, repl) in enumerate(X.PII_PATTERNS, start=1):
        sql += f""",
        r{i} AS (
            SELECT doc_id,
                   len(regexp_extract_all(text, '{pat}')) AS c{i},
                   regexp_replace(text, '{pat}', '{repl}', 'g') AS text
                   {"".join(f", c{j}" for j in range(1, i))}
            FROM {prev}
        )"""
        prev, counts = f"r{i}", counts + [f"c{i}"]
    return sql + f"""
        SELECT doc_id, text AS clean_text,
               CAST({" + ".join(counts)} AS INT) AS n_redacted
        FROM {prev}
    """


def oracles() -> dict[str, str]:
    """DuckDB oracles for the text family keys."""
    from mapr_plugins_spark.operators.reg_common import _EN_STOP, _TOKS_SQL

    return {
        "q23_text_terms": f"""
            WITH toks AS (SELECT unnest({_TOKS_SQL}) AS token FROM documents)
            SELECT token, COUNT(*) AS cnt FROM toks
            WHERE token NOT IN ({_EN_STOP})
            GROUP BY token ORDER BY cnt DESC, token LIMIT 50
        """,
        "x_text_nfc_normalize": """
            WITH aug AS (
                SELECT doc_id, replace(text, 'a', 'a' || chr(769)) AS text
                FROM documents
            )
            SELECT doc_id,
                   nfc_normalize(text) AS norm_text,
                   nfc_normalize(text) <> text AS changed
            FROM aug
        """,
        "x_bpe_encode": _bpe_oracle(),
        "x_tokenizer_fertility": _fertility_oracle(),
        "x_bpe_encode_fast": _bpe_oracle(),
        "x_gopher_rules": f"""
            WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
            m AS (
                SELECT doc_id,
                       CAST(len(toks) AS INTEGER) AS n,
                       CAST(list_sum(list_transform(toks, t -> strlen(t)))
                            AS DOUBLE) / len(toks) AS ml,
                       CAST(len(list_intersect(toks,
                            ['the','a','and','of','to','be','have','with']))
                            AS INTEGER) AS sh
                FROM t
            )
            SELECT doc_id,
                   n AS n_words,
                   round(ml, 6) AS mean_word_len6,
                   sh AS stop_hits,
                   (n >= 30 AND n <= 100000 AND ml >= 3.0 AND ml <= 10.0
                    AND sh >= 2) AS passes,
                   CASE WHEN NOT (n >= 30 AND n <= 100000) THEN 'word_count'
                        WHEN NOT (ml >= 3.0 AND ml <= 10.0) THEN 'mean_word_length'
                        WHEN NOT (sh >= 2) THEN 'stopword_hits'
                        ELSE NULL END AS fail_reason
            FROM m
        """,
        "x_bpe_train": _bpe_train_oracle(),
        "x_bpe_train_collected": _bpe_train_oracle(),
        "x_pmi_collocations": """
            WITH t AS (
                SELECT string_split(text, ' ') AS wl FROM documents
                WHERE len(string_split(text, ' ')) >= 2
            ),
            b AS (
                SELECT unnest(wl[1:len(wl) - 1]) AS w1,
                       unnest(wl[2:len(wl)]) AS w2
                FROM t
            ),
            cab AS (
                SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab
                FROM b GROUP BY w1, w2
            ),
            ca AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c_a FROM b GROUP BY w1),
            cb AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS c_b FROM b GROUP BY w2),
            nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
            s AS (
                SELECT cab.w1, cab.w2, c_ab,
                       CAST(c_ab * n AS BIGINT) AS pmi_num,
                       CAST(c_a * c_b AS BIGINT) AS pmi_den
                FROM cab JOIN ca USING (w1) JOIN cb USING (w2), nn
                WHERE c_ab >= 5
            ),
            r AS (
                SELECT w1, w2, c_ab, pmi_num, pmi_den,
                       CAST(row_number() OVER (
                           PARTITION BY w1
                           ORDER BY CAST(pmi_num AS DOUBLE) / pmi_den DESC, w2
                       ) AS INTEGER) AS rank
                FROM s
            )
            SELECT w1, w2, c_ab, pmi_num, pmi_den, rank
            FROM r WHERE rank <= 3
        """,
        "x_text_langid": _langid_oracle(),
        "x_text_quality": f"""
            WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
            SELECT doc_id,
                   CAST(len(toks) AS INT) AS n_tokens,
                   CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
                       / len(toks) AS mean_token_len,
                   CAST(len(list_filter(toks, x -> x IN ({_EN_STOP}))) AS DOUBLE) / len(toks)
                       AS stopword_ratio,
                   CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text)
                       AS digit_ratio,
                   0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
                   + 0.3 * (1.0 - CAST(len(list_filter(toks, x -> x IN ({_EN_STOP}))) AS DOUBLE)
                                  / len(toks))
                   + 0.3 * least(1.0,
                         CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                              AS DOUBLE) / len(toks) / 8.0)
                       AS quality_score
            FROM t
        """,
        "x_text_tokens": """
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
                   CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS INT)
                       AS bpe_tokens
            FROM documents
        """,
        "x_text_fingerprint": (
            "SELECT doc_id, "
            + seeded_hash60_sql(_CANON_DUCK, "0")
            + " AS fp, substr(md5("
            + _CANON_DUCK
            + "), 1, 16) AS fp_hex FROM documents"
        ),
        "x_mojibake_detect": """
            WITH damaged AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                                THEN text || ' cafÃ© â€” naÃ¯ve'
                            WHEN doc_id % 13 = 0
                                THEN text || ' bad�byte'
                            ELSE text END AS text
                FROM documents
            )
            SELECT doc_id,
                   CAST(
                       (length(text) - length(replace(text, 'Ã', '')))
                     + (length(text) - length(replace(text, 'Â', '')))
                     + (length(text) - length(replace(text, 'â€', ''))) // 2
                     + (length(text) - length(replace(text, '�', '')))
                   AS BIGINT) AS artifact_cnt,
                   ((length(text) - length(replace(text, 'Ã', '')))
                     + (length(text) - length(replace(text, 'Â', '')))
                     + (length(text) - length(replace(text, 'â€', ''))) // 2
                     + (length(text) - length(replace(text, '�', '')))) > 0
                       AS is_mojibake
            FROM damaged
        """,
        "x_text_pii_redact": _pii_redact_oracle(),
        "x_text_repetition": f"""
            WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
            b AS (
                SELECT doc_id, t,
                       CASE WHEN len(t) >= 2
                            THEN list_transform(range(1, len(t)),
                                                i -> t[i] || ' ' || t[i + 1])
                            ELSE [] END AS bg
                FROM toks
            )
            SELECT doc_id,
                   CAST(len(t) AS INT) AS n_tokens,
                   round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
                       AS dup_token_frac,
                   round(CAST(list_max(list_transform(list_distinct(t),
                             w -> len(list_filter(t, x -> x = w)))) AS DOUBLE)
                         / len(t), 6) AS top_token_frac,
                   round(CASE WHEN len(bg) > 0
                              THEN CAST(list_max(list_transform(list_distinct(bg),
                                        w -> len(list_filter(bg, x -> x = w)))) AS DOUBLE)
                                   / len(bg)
                              ELSE 0.0 END, 6) AS top_bigram_frac
            FROM b
        """,
        "x_text_diversity": f"""
            WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
            SELECT doc_id,
                   CAST(len(toks) AS INT) AS n_tokens,
                   CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                       AS type_token_ratio,
                   list_sum(list_transform(list_sort(list_distinct(toks)),
                       u -> (CAST(len(list_filter(toks, x -> x = u)) AS DOUBLE)
                             / len(toks))
                            * (CAST(len(list_filter(toks, x -> x = u)) AS DOUBLE)
                               / len(toks)))) AS simpson
            FROM t
        """,
        "x_bm25": f"WITH {_bm25_ctes()} SELECT doc_id, bm25 FROM bm",
        "x_rrf_fusion": f"""
            WITH {_bm25_ctes()},
            r1 AS (
                SELECT doc_id,
                       row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r1
                FROM bm
            ),
            sims AS (
                SELECT vec_id AS doc_id,
                       list_cosine_similarity(embedding::DOUBLE[],
                           (SELECT embedding FROM embeddings
                            WHERE vec_id = 0)::DOUBLE[]) AS sim
                FROM embeddings WHERE vec_id <> 0
            ),
            r2 AS (
                SELECT doc_id,
                       row_number() OVER (ORDER BY sim DESC, doc_id) AS r2
                FROM sims
            ),
            f AS (
                SELECT coalesce(r1.doc_id, r2.doc_id) AS doc_id,
                       coalesce(1.0 / (60 + r1.r1), 0.0)
                       + coalesce(1.0 / (60 + r2.r2), 0.0) AS rrf
                FROM r1 FULL OUTER JOIN r2 ON r1.doc_id = r2.doc_id
            )
            SELECT doc_id, rrf FROM f ORDER BY rrf DESC, doc_id LIMIT 20
        """,
        "x_inverted_index": f"""
            WITH pairs AS (
                SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS token FROM documents
            )
            SELECT token, count(*) AS df,
                   array_to_string(list_sort(list(doc_id)), ',') AS postings
            FROM pairs GROUP BY token
        """,
        "x_lm_score": _LM_SCORE_ORACLE,
        "x_ccnet_buckets": _LM_SCORE_CTES + """,
            lm AS (
                SELECT doc_id,
                       CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE)
                           / CAST(COUNT(p) AS DOUBLE) AS lm_score
                FROM p GROUP BY doc_id
            ),
            sj AS (
                SELECT l.doc_id, d.source, l.lm_score
                FROM lm l JOIN documents d USING (doc_id)
            ),
            rk AS (
                SELECT doc_id, source, lm_score,
                       row_number() OVER (PARTITION BY source
                           ORDER BY lm_score DESC, doc_id) AS rn,
                       COUNT(*) OVER (PARTITION BY source) AS n
                FROM sj
            )
            SELECT doc_id, source, lm_score,
                   CAST((rn - 1) * 3 // n AS INTEGER) AS bucket,
                   CASE (rn - 1) * 3 // n WHEN 0 THEN 'head'
                        WHEN 1 THEN 'middle' ELSE 'tail' END AS verdict,
                   (rn - 1) * 3 // n <= 1 AS keep
            FROM rk
        """,
        "x_tfidf": f"""
            WITH tp AS (
                SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents
            ),
            tc AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tp GROUP BY 1, 2),
            dl AS (SELECT doc_id, SUM(cnt) AS n_tok FROM tc GROUP BY 1),
            dfc AS (SELECT token, COUNT(*) AS doc_freq FROM tc GROUP BY 1),
            nd AS (SELECT COUNT(*) AS n_docs FROM documents)
            SELECT tc.doc_id, tc.token,
                   round((CAST(tc.cnt AS DOUBLE) / dl.n_tok)
                         * (CAST(nd.n_docs + 1 AS DOUBLE) / (dfc.doc_freq + 1)), 6)
                       AS tfidf
            FROM tc
            JOIN dl ON dl.doc_id = tc.doc_id
            JOIN dfc ON dfc.token = tc.token
            CROSS JOIN nd
        """,
    }
