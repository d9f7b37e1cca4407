"""Shared fragments for the per-family extension registries: the dedup corpus, tokenization SQL, portable constants, and cross-family oracle helpers.

Imported by the family modules and by ``streaming/registry.py``; it
defines no registry key.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from mapr_plugins_spark.catalog import table as _t
from mapr_plugins_spark.functions.portable_hash import hex15_to_bigint_sql
from mapr_plugins_spark.operators import text as X

# ---------------------------------------------------------------------------
# shared fragments

_TOKS_SQL = "list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '')"
_EN_STOP = ", ".join(f"'{w}'" for w in X.STOPWORDS["en"])
_MINHASH_SEEDS = 8
_BAND_ROWS = 4


def _dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-dup variants (first word dropped, ids offset) —
    deterministic injection so near-dup queries have non-trivial output."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", "^[a-z]+ ", "").alias("text"),
    )
    return docs.unionByName(variants)


_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, regexp_replace(text, '^[a-z]+ ', '') AS text
    FROM documents
"""


def _data_fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """Fingerprint the source parquet (path + size + mtime of every
    file) so a staged index is keyed on the DATA, not just the
    directory string — regenerated data at the same path can never be
    served a stale index."""
    import hashlib
    import os

    h = hashlib.md5()
    p = os.path.join(sf_dir, f"{table}.parquet")
    paths = (
        sorted(os.path.join(p, f) for f in os.listdir(p)) if os.path.isdir(p) else [p]
    )
    for q in paths:
        st = os.stat(q)
        h.update(f"{q}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:12]


def _ensure_staged(d: str, build) -> None:
    """Build a persisted index into a temp sibling and atomically
    rename it into place, so concurrent stagers (parallel graders)
    race safely: exactly one rename wins, the loser discards its
    tree and uses the winner's."""
    import os
    import shutil
    import uuid

    if os.path.exists(f"{d}/_SUCCESS"):
        return
    os.makedirs(os.path.dirname(d), exist_ok=True)
    tmp = f"{d}.tmp-{uuid.uuid4().hex[:8]}"
    build(tmp)
    # root-level marker: the builder's own _SUCCESS files live in
    # subdirectories (corpus/, centroids/), so without this every call
    # would silently re-stage — re-fitting KMeans per execution
    open(os.path.join(tmp, "_SUCCESS"), "a").close()
    try:
        os.rename(tmp, d)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


#: scd2_apply wave cutoff: 2024-01-20 00:00:00 UTC in epoch micros —
#: splits the events log ~2/3 history / 1/3 incoming wave at every SF.
SCD2_APPLY_CUTOFF_US = 1_705_708_800_000_000


def _minhash_pairs_ctes(corpus_sql: str, threshold: float) -> str:
    """CTE chain ``corpus .. pairs`` replicating the MinHash→LSH→exact
    Jaccard pipeline over ``corpus_sql`` — reused by the pairs oracle
    and by the end-to-end curate oracle."""
    from mapr_plugins_spark.functions.portable_hash import (
        MINHASH_P,
        hex15_to_bigint_sql,
        minhash_affine,
    )

    base_h = hex15_to_bigint_sql("md5(shingle)")
    affine = " ".join(
        f"WHEN {s} THEN ({minhash_affine(s)[0]} * bh + {minhash_affine(s)[1]})"
        f" % {MINHASH_P}"
        for s in range(_MINHASH_SEEDS)
    )
    return f"""corpus AS ({corpus_sql}),
        words AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
            FROM words WHERE len(w) >= 3
        ),
        based AS (SELECT doc_id, {base_h} % {MINHASH_P} AS bh FROM sh),
        hashed AS (
            SELECT doc_id, CAST(s.seed AS INT) AS seed,
                   CASE s.seed {affine} END AS hh
            FROM based CROSS JOIN range({_MINHASH_SEEDS}) s(seed)
        ),
        mh AS (SELECT doc_id, seed, MIN(hh) AS mh FROM hashed GROUP BY 1, 2),
        bands AS (
            SELECT doc_id, seed // {_BAND_ROWS} AS band,
                   string_agg(seed || ':' || mh, '|' ORDER BY seed) AS sig
            FROM mh GROUP BY 1, 2
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        inter AS (
            SELECT c.id_a, c.id_b, COUNT(*) AS ni
            FROM cand c
            JOIN sh s1 ON s1.doc_id = c.id_a
            JOIN sh s2 ON s2.doc_id = c.id_b AND s2.shingle = s1.shingle
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT i.id_a, i.id_b,
                   CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) >= {threshold}
        )"""


def _clusters_oracle() -> str:
    """Recursive reachability closure over the minhash pairs of the
    injected corpus → (doc_id, canonical_id = min reachable id)."""
    pairs = _minhash_pairs_ctes(_CORPUS_SQL, 0.5)
    return f"""
        WITH RECURSIVE {pairs},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        reach AS (
            SELECT id AS src, id AS dst FROM nodes
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
        )
        SELECT src AS doc_id, min(dst) AS canonical_id FROM reach GROUP BY src
    """


def _quality_sql() -> str:
    """DuckDB replay of text.quality_features' score formula over a
    ``toks`` list column — shared by the curate and warc-ingest
    oracles."""
    return f"""
        0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
        + 0.3 * (1.0 - CAST(len(list_filter(toks, x -> x IN ({_EN_STOP}))) AS DOUBLE)
                       / len(toks))
        + 0.3 * least(1.0,
              CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                   AS DOUBLE) / len(toks) / 8.0)
    """


def _langid_sql() -> tuple[str, str, str]:
    """(score_cols, greatest_expr, case_arms) replaying
    text.with_language_id's stopword-fraction argmax with the same
    alphabetical tie-break — shared by the curate and warc-ingest
    oracles."""
    score_cols = ", ".join(
        "CAST(len(list_filter(toks, x -> x IN ({w}))) AS DOUBLE) / len(toks) AS s_{lang}".format(
            w=", ".join(f"'{t}'" for t in words), lang=lang
        )
        for lang, words in X.STOPWORDS.items()
    )
    m = "greatest(" + ", ".join(f"s_{lang}" for lang in X.STOPWORDS) + ")"
    case = " ".join(f"WHEN s_{lang} = m THEN '{lang}'" for lang in sorted(X.STOPWORDS))
    return score_cols, m, case


def _int_d2_sql(q: str, c: str) -> str:
    """Exact-integer squared-L2 between two BIGINT list expressions,
    dimension derived FROM THE DATA (``len``), never hardcoded — a
    dimension change must not silently truncate the distance (round-9
    advice)."""
    return (
        f"CAST(list_sum(list_transform(range(1, len({q}) + 1), "
        f"i -> ({q}[i] - {c}[i]) * ({q}[i] - {c}[i]))) AS BIGINT)"
    )
