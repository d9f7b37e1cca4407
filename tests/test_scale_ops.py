"""Salted-join skew resilience + connected-components dedup collapse +
end-to-end curation pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapr_plugins_spark.plans.partitioning import salted_join


def test_salted_join_matches_plain_join(spark, sf_dir):
    from mapr_plugins_spark.catalog import table

    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = orders.join(cust, "o_custkey")
    salted = salted_join(orders, cust, on="o_custkey", salt=4)
    assert salted.count() == plain.count()
    a = plain.groupBy("c_mktsegment").count().collect()
    b = salted.groupBy("c_mktsegment").count().collect()
    assert {(r[0], r[1]) for r in a} == {(r[0], r[1]) for r in b}


def test_salted_join_skewed_key(spark):
    # 10k rows on ONE key — the motivating case
    left = spark.range(10_000).select(F.lit(7).alias("k"), F.col("id").alias("v"))
    right = spark.createDataFrame([(7, "hot"), (8, "cold")], "k INT, tag STRING")
    out = salted_join(left, right, on="k", salt=8)
    assert out.count() == 10_000
    assert out.filter(F.col("tag") != "hot").count() == 0


def test_collapse_components_chain_and_islands(spark):
    from mapr_plugins_spark.operators.dedup import collapse_components

    # chain 1-2-3-4 (diameter > 1 forces multiple iterations) + pair 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a BIGINT, id_b BIGINT"
    )
    comp = {r.doc_id: r.canonical_id for r in collapse_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_by_pairs_keeps_canonical_and_untouched(spark):
    from mapr_plugins_spark.operators.dedup import dedup_by_pairs

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 50)], "doc_id BIGINT, text STRING"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a BIGINT, id_b BIGINT")
    kept = sorted(r.doc_id for r in dedup_by_pairs(docs, pairs).collect())
    assert kept == [1, 50]


def test_curate_pipeline_end_to_end(spark, sf_dir):
    """curate() on the injected-duplicate corpus: exact dups collapse,
    near-dup variants collapse to their source, survivors carry quality
    + language columns."""
    from mapr_plugins_spark.catalog import table
    from mapr_plugins_spark.operators.dedup import curate

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.regexp_replace("text", "^[a-z]+ ", "").alias("text"),
    )
    corpus = docs.unionByName(docs).unionByName(variants)  # exact + near dups
    out = curate(corpus, min_quality=0.0)
    n_docs = docs.count()
    kept = out.count()
    # exact dups must all collapse; most near-dup variants collapse too
    assert kept <= n_docs * 1.1
    assert kept >= n_docs * 0.5
    assert {"quality_score", "lang_pred", "lang_score"} <= set(out.columns)
    # survivors prefer the lower (original) id
    assert out.filter(F.col("doc_id") >= 1_000_000).count() <= 0.1 * n_docs


def test_global_row_index_dense_and_ordered(spark):
    from mapr_plugins_spark.operators.indexing import global_row_index

    df = spark.range(0, 1000).selectExpr("id * 7 % 1000 AS k")  # permutation
    out = global_row_index(df, "k", n_parts=8).collect()
    got = sorted((r["k"], r["row_idx"]) for r in out)
    assert got == [(i, i) for i in range(1000)]  # dense, 0-based, k-ordered


def test_compact_files_reduces_file_count(spark, tmp_path):
    import glob

    from mapr_plugins_spark.plans.partitioning import compact_files

    p = str(tmp_path / "frag")
    spark.range(0, 10_000).repartition(40).write.parquet(p)
    assert len(glob.glob(f"{p}/*.parquet")) == 40
    compact_files(spark, p, target_file_bytes=10**9)
    assert len(glob.glob(f"{p}/*.parquet")) == 1
    assert spark.read.parquet(p).count() == 10_000


def test_zorder_layout_skips_more_files_than_linear(spark, sf_dir, tmp_path):
    """File-level min/max pruning on a 2-D box predicate: the z-ordered
    layout must touch fewer files than a single-column linear sort."""
    from mapr_plugins_spark.catalog import table
    from mapr_plugins_spark.plans.partitioning import write_zordered

    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    n_files = 64
    zp, lp = str(tmp_path / "zord"), str(tmp_path / "linear")
    write_zordered(li, zp, ["l_partkey", "l_suppkey"], n_files=n_files)
    (
        li.repartitionByRange(n_files, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(lp)
    )

    def files_overlapping_box(path, lo1, hi1, lo2, hi2):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                F.min("l_partkey").alias("p_mn"), F.max("l_partkey").alias("p_mx"),
                F.min("l_suppkey").alias("s_mn"), F.max("l_suppkey").alias("s_mx"),
            )
        )
        return per_file.filter(
            (F.col("p_mx") >= lo1) & (F.col("p_mn") <= hi1)
            & (F.col("s_mx") >= lo2) & (F.col("s_mn") <= hi2)
        ).count()

    mx_p, mx_s = li.agg(F.max("l_partkey"), F.max("l_suppkey")).collect()[0]
    # ~20% box on each dimension
    box = (mx_p // 10, 3 * mx_p // 10, mx_s // 10, 3 * mx_s // 10)
    z_hit, l_hit = files_overlapping_box(zp, *box), files_overlapping_box(lp, *box)
    assert spark.read.parquet(zp).count() == li.count()
    assert z_hit < l_hit, (z_hit, l_hit)


def test_compact_files_cluster_sort_tightens_ranges(spark, tmp_path):
    """order_by compaction clusters row groups: each output file owns a
    disjoint-ish key range (file min/max spans shrink vs unsorted)."""
    import glob

    from mapr_plugins_spark.plans.partitioning import compact_files

    p = str(tmp_path / "frag")
    spark.range(0, 40_000).selectExpr("id % 1000 AS k", "id AS v").repartition(
        40
    ).write.parquet(p)
    compact_files(spark, p, target_file_bytes=60_000, order_by=["k"])
    files = glob.glob(f"{p}/*.parquet")
    assert len(files) > 1
    spans = []
    for f in files:
        r = spark.read.parquet(f).agg(F.min("k"), F.max("k")).collect()[0]
        spans.append(r[1] - r[0])
    # sortWithinPartitions clusters keys: average file span well under
    # the full 0..999 domain a random layout would give every file
    assert sum(spans) / len(spans) < 500, spans
    assert spark.read.parquet(p).count() == 40_000


def test_pruned_rollup_apply_touches_only_wave_buckets(spark, tmp_path):
    """The partition-pruned apply must (a) leave untouched bucket
    files byte-identical (pruned write path), (b) produce exactly the
    full rebuild's state (mergeable-state law), (c) report touched
    buckets ≪ n_buckets for a key-local wave."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from mapr_plugins_spark.operators.analytics import (
        incremental_agg_apply_pruned,
        incremental_agg_state,
    )

    keys = ["g", "s"]
    base_rows = spark.range(0, 400).select(
        (F.col("id") % 40).alias("g"),
        (F.col("id") % 3).cast("string").alias("s"),
        (F.col("id") * 1.5).alias("value"),
    )
    wave_rows = spark.range(0, 30).select(
        F.lit(7).alias("g"),
        (F.col("id") % 3).cast("string").alias("s"),
        (F.col("id") * 2.5).alias("value"),
    )
    state_dir = str(tmp_path / "state")
    bucket = F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(16))
    incremental_agg_state(base_rows, keys, "value").withColumn(
        "__bucket", bucket
    ).write.partitionBy("__bucket").parquet(state_dir)

    def digest():
        out = {}
        for root, _, files in os.walk(state_dir):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[os.path.relpath(p, state_dir)] = hashlib.md5(
                        open(p, "rb").read()
                    ).hexdigest()
        return out

    before = digest()
    wave = incremental_agg_state(wave_rows, keys, "value")
    touched = incremental_agg_apply_pruned(spark, state_dir, wave, keys, 16)
    after = digest()
    # (c) the wave has 3 keys -> at most 3 of 16 buckets
    assert 1 <= len(touched) <= 3, touched
    # (a) every file OUTSIDE the touched buckets is byte-identical
    untouched_before = {
        p: h for p, h in before.items()
        if not any(f"__bucket={b}/" in p for b in touched)
    }
    for p, h in untouched_before.items():
        assert after.get(p) == h, f"untouched bucket file rewritten: {p}"
    # (b) merged state == full rebuild over base+wave
    got = sorted(
        map(tuple, spark.read.parquet(state_dir).drop("__bucket").collect())
    )
    want = sorted(
        map(
            tuple,
            incremental_agg_state(
                base_rows.unionByName(wave_rows), keys, "value"
            ).collect(),
        )
    )
    assert got == want


def test_blocking_recall_oracle_parity_where_cap_binds(spark):
    """Round-7 regression pin: the fixed-size ground-truth sample cap
    only BINDS above ~2.5k corpus docs, so sf0.01 grading cannot catch
    a Spark/oracle divergence in the cap path (the round-7 sf0.1
    driver slice caught exactly that — the oracle's blocked CTE still
    replayed the raw mod rule). Assert full-value parity at sf0.1,
    where the 500-doc cap is active on both engines."""
    from tests.oracle_harness import canonicalize, run_duckdb, spark_rows

    from mapr_plugins_spark.operators.reg_dedup import x_blocking_recall
    from mapr_plugins_spark.operators.registry import extension_oracles

    sf = "/root/testdata/sf0.1"
    got = canonicalize(spark_rows(x_blocking_recall(spark, sf)))
    want = canonicalize(run_duckdb(extension_oracles()["x_blocking_recall"], sf))
    assert got == want
