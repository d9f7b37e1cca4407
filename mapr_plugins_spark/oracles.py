"""DuckDB oracle SQL for the declared query set.

One entry per key in :mod:`mapr_plugins_spark.queries`; the extension,
streaming and format families keep their oracles beside their queries
(``oracles()``/``*_oracles()`` in each family module). The driver runs
these on the same parquet tables and hash-compares against the Spark
results, so:

* every computed column is aliased identically to the Spark side;
* integer-typed outputs are cast to the width Spark produces
  (``length()`` is INT in Spark, BIGINT in DuckDB, etc.);
* double aggregates use the same exact-decimal accumulation as
  ``functions/deterministic.py`` — order-free, hence engine-portable.
"""

from __future__ import annotations

from mapr_plugins_spark.functions.deterministic import davg_sql, dsum_sql

_DISC_PRICE = "l_extendedprice * (1 - l_discount)"
_CHARGE = "l_extendedprice * (1 - l_discount) * (1 + l_tax)"

RELATIONAL_ORACLES: dict[str, str] = {
    "q01_filter_project": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    """,
    "q02_groupagg": f"""
        SELECT l_returnflag, l_linestatus,
               {dsum_sql('l_quantity', 'sum_qty')},
               {dsum_sql('l_extendedprice', 'sum_base_price')},
               {dsum_sql(_DISC_PRICE, 'sum_disc_price')},
               {dsum_sql(_CHARGE, 'sum_charge')},
               {davg_sql('l_quantity', 'avg_qty')},
               {davg_sql('l_extendedprice', 'avg_price')},
               {davg_sql('l_discount', 'avg_disc')},
               COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q03_revenue_by_nation": f"""
        SELECT n_name, {dsum_sql(_DISC_PRICE, 'revenue')}
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    "q04_broadcast_join": f"""
        SELECT p_brand, {dsum_sql('l_quantity', 'sum_qty')}, COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        GROUP BY p_brand
    """,
    "q05_left_join": """
        SELECT c_custkey, COUNT(o_orderkey) AS order_cnt
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    """,
    "q06_semi_join": """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "q06_anti_join": """
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "q07_range_join": """
        SELECT o1.o_custkey AS o_custkey, COUNT(*) AS pair_cnt
        FROM orders o1 JOIN orders o2
          ON o1.o_custkey = o2.o_custkey
         AND o2.o_orderdate > o1.o_orderdate
         AND o2.o_orderdate <= o1.o_orderdate + INTERVAL 7 DAY
        GROUP BY o1.o_custkey
    """,
    "q08_count_distinct": """
        SELECT COUNT(DISTINCT o_custkey) AS n_cust FROM orders
    """,
    "q08_approx_distinct": """
        SELECT CAST(ABS(approx_count_distinct(o_custkey) - COUNT(DISTINCT o_custkey)) AS DOUBLE)
               / CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) <= 0.10 AS approx_ok
        FROM orders
    """,
    "q09_rollup": f"""
        SELECT n_name, o_orderpriority,
               {dsum_sql('o_totalprice', 'revenue')},
               COUNT(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY ROLLUP (n_name, o_orderpriority)
    """,
    "q10_window_rank": """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
    "q11_window_running": """
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                   AS running_spend,
               LAG(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                   AS prev_totalprice
        FROM orders
    """,
    "q12_topk": """
        SELECT p_partkey, p_name, p_retailprice FROM part
        ORDER BY p_retailprice DESC, p_partkey LIMIT 20
    """,
    "q13_union": """
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        UNION ALL
        SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
    """,
    "q13_intersect": """
        SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey AS k FROM orders
    """,
    "q13_except": """
        SELECT c_custkey AS k FROM customer
        EXCEPT
        SELECT o_custkey AS k FROM orders
    """,
    "q14_string_funcs": """
        SELECT p_partkey,
               upper(p_name) AS up_name,
               substring(p_name, 1, 5) AS pre5,
               p_brand || '-' || p_type AS brand_type,
               regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
               lpad(CAST(p_size AS VARCHAR), 4, '0') AS size4,
               p_name LIKE '%a%' AS has_a,
               CAST(length(p_name) AS INTEGER) AS name_len,
               CAST(strpos(p_name, 'a') AS INTEGER) AS a_pos,
               regexp_replace(p_name, '[aeiou]', '_', 'g') AS devowel
        FROM part
    """,
    "q15_date_funcs": """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST(month(o_orderdate) AS INTEGER) AS mo,
               CAST(day(o_orderdate) AS INTEGER) AS dom,
               strftime(CAST(date_trunc('month', o_orderdate) AS DATE), '%Y-%m-%d')
                   AS month_start,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INTEGER)
                   AS days_to_98,
               strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_date,
               strftime(o_orderdate, '%Y-%m-%d') AS od_str
        FROM orders
    """,
    "q16_math_funcs": """
        SELECT l_orderkey, l_linenumber,
               abs(l_quantity - 25) AS qty_dev,
               pow(l_quantity, 2) AS qty_sq,
               sqrt(l_extendedprice) AS price_sqrt,
               CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
               CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
               CAST(round(l_discount * 100) AS INTEGER) AS disc_pct,
               l_orderkey % 7 AS mod7
        FROM lineitem
    """,
    "q17_array_explode": """
        SELECT vec_id, CAST(r.i AS INTEGER) AS pos, embedding[CAST(r.i AS INTEGER) + 1] AS val
        FROM embeddings, range(8) r(i)
        WHERE len(embedding) > r.i
    """,
    "q17_array_ops": """
        WITH s AS (SELECT vec_id, embedding, list_sort(embedding[1:4]) AS s4
                   FROM embeddings)
        SELECT vec_id,
               CAST(len(embedding) AS INTEGER) AS dim,
               s4[1] AS s1, s4[2] AS s2, s4[3] AS s3, s4[4] AS s4,
               embedding[1] AS e1,
               list_aggregate(embedding, 'max') AS emax,
               list_aggregate(embedding, 'min') AS emin
        FROM s
    """,
    "q18_json_funcs": """
        SELECT event_id,
               json_extract_string(props, '$.k') AS k_str,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
        FROM events
    """,
    "q19_conditional_funcs": """
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN 'neg'
                    WHEN c_acctbal < 5000 THEN 'mid'
                    ELSE 'high' END AS bal_band,
               coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg2,
               c_acctbal IS NULL AS bal_null
        FROM customer
    """,
    "q20_scalar_subquery": """
        SELECT p_partkey, p_brand, p_retailprice
        FROM part p
        WHERE p_retailprice > (
            SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(18,6))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE)
            FROM part p2
            WHERE p2.p_brand = p.p_brand
        )
    """,
    "q21_pandas_udf": """
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1 - l_discount) AS disc_price,
               TRUE AS matches_native
        FROM lineitem
    """,
    "q30_full_outer_join": """
        SELECT coalesce(c_custkey, o_custkey) AS k,
               COUNT(o_orderkey) AS n_orders,
               MAX(c_custkey IS NOT NULL) AS has_cust
        FROM (SELECT * FROM customer WHERE c_custkey % 3 = 0) c
        FULL OUTER JOIN (SELECT * FROM orders WHERE o_custkey % 2 = 0) o
          ON c.c_custkey = o.o_custkey
        GROUP BY coalesce(c_custkey, o_custkey)
    """,
    # The map is constructed from known columns, so the oracle states the
    # expected extraction results directly — it checks Spark's map
    # semantics, not DuckDB's.
    "q31_map_funcs": """
        SELECT c_custkey,
               c_mktsegment AS seg_val,
               CAST(c_nationkey AS VARCHAR) AS nation_val,
               CAST(3 AS INTEGER) AS n_keys,
               'name,nation,seg' AS keys_sorted,
               TRUE AS has_name_val
        FROM customer
    """,
    "q32_stats_agg": """
        WITH m AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,12)))
                        AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,12)))
                        AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,12)))
                        AS DOUBLE) AS syy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               round((sxx - sx * sx / n) / (n - 1), 6) AS var_qty,
               round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS std_qty,
               round((sxy - sx * sy / n) / (n - 1), 6) AS cov_qty_price,
               round(((sxy - sx * sy / n) / (n - 1))
                     / sqrt(((sxx - sx * sx / n) / (n - 1))
                            * ((syy - sy * sy / n) / (n - 1))), 6) AS corr_qty_price
        FROM m
    """,
    "q33_percentiles": """
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.25) AS p25,
               quantile_cont(l_quantity, 0.5) AS p50,
               quantile_cont(l_quantity, 0.75) AS p75,
               quantile_cont(l_quantity, 0.99) AS p99
        FROM lineitem GROUP BY l_returnflag
    """,
    "q33_approx_percentile": """
        SELECT TRUE AS approx_ok
    """,
    "q34_collect": """
        SELECT o_custkey,
               array_to_string(list_sort(list(o_orderpriority)), ',') AS prios_all,
               array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
               CAST(COUNT(DISTINCT o_orderpriority) AS INTEGER) AS n_distinct_prio
        FROM orders GROUP BY o_custkey
    """,
    "q35_cube": f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               {dsum_sql('o_totalprice', 'revenue')},
               CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "q36_grouping_sets": f"""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
               COUNT(*) AS n,
               {dsum_sql('o_totalprice', 'revenue')}
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    "q37_cross_join": """
        SELECT n_nationkey, r_regionkey, n_regionkey = r_regionkey AS home
        FROM nation CROSS JOIN region
    """,
    "q38_window_analytics": """
        WITH d AS (
            SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
                   date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS days
            FROM orders
        )
        SELECT o_custkey, o_orderkey,
               LEAD(o_orderkey) OVER w AS next_orderkey,
               CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
               round(PERCENT_RANK() OVER w, 6) AS pct_rank,
               CAST(DENSE_RANK() OVER (
                   PARTITION BY o_custkey ORDER BY o_orderpriority) AS INTEGER) AS prio_rank,
               FIRST_VALUE(o_orderkey) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_key,
               LAST_VALUE(o_orderkey) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key,
               COUNT(*) OVER (
                   PARTITION BY o_custkey ORDER BY days
                   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n_orders_30d
        FROM d
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "q39_grouped_udaf": """
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS total_cents,
               MAX(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS max_cents
        FROM orders GROUP BY o_orderpriority, o_orderstatus
    """,
    "q40_python_udtf": """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        SELECT doc_id, CAST(r.i - 1 AS INTEGER) AS idx, toks[CAST(r.i AS INTEGER)] AS word
        FROM t, range(1, 100000) r(i)
        WHERE r.i <= len(toks) AND toks[CAST(r.i AS INTEGER)] <> ''
    """,
    "q41_row_udf": """
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN 'neg'
                    WHEN c_acctbal < 5000 THEN 'mid'
                    ELSE 'high' END AS bal_band
        FROM customer
    """,
    "q42_pivot": """
        SELECT o_orderpriority,
               COUNT(*) FILTER (o_orderstatus = 'F') AS f_n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                    FILTER (o_orderstatus = 'F') AS DOUBLE) AS f_rev,
               COUNT(*) FILTER (o_orderstatus = 'O') AS o_n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                    FILTER (o_orderstatus = 'O') AS DOUBLE) AS o_rev,
               COUNT(*) FILTER (o_orderstatus = 'P') AS p_n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                    FILTER (o_orderstatus = 'P') AS DOUBLE) AS p_rev
        FROM orders GROUP BY o_orderpriority
    """,
    "q43_unpivot": """
        SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
        UNION ALL
        SELECT p_partkey, 'retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS val
        FROM part
    """,
    "q13_intersect_all": """
        SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        INTERSECT ALL
        SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    "q13_except_all": """
        SELECT o_custkey AS k FROM orders
        EXCEPT ALL
        SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
    """,
    "q44_higher_order_funcs": """
        WITH t AS (
            SELECT vec_id, embedding,
                   list_transform(embedding[1:4],
                                  x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 6))
                       AS sq
            FROM embeddings)
        SELECT vec_id,
               sq[1] AS sq1, sq[2] AS sq2, sq[3] AS sq3, sq[4] AS sq4,
               CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
               round(list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                                list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))),
                   (acc, x) -> acc + x), 6) AS sum8,
               flatten([embedding[1:2], embedding[3:4]]) = embedding[1:4] AS flatten_ok
        FROM t
    """,
    "q45_misc_funcs": """
        SELECT c_custkey,
               md5(c_name) AS name_md5,
               sha256(c_name) AS name_sha256,
               c_custkey & 255 AS k_and,
               c_custkey | 4096 AS k_or,
               xor(c_custkey, 1023) AS k_xor,
               c_custkey << 2 AS k_shl,
               greatest(c_acctbal, 0.0) AS bal_pos,
               least(c_acctbal, 0.0) AS bal_neg,
               CAST(len(generate_series(1, CAST(c_nationkey % 5 AS BIGINT) + 1)) AS INTEGER)
                   AS seq_n
        FROM customer
    """,
    "q46_window_extras": """
        SELECT o_custkey, o_orderkey,
               round(CUME_DIST() OVER w, 6) AS cdist,
               NTH_VALUE(o_orderkey, 2) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_key,
               FIRST_VALUE(np IGNORE NULLS) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_closed,
               LAST_VALUE(np IGNORE NULLS) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_closed
        FROM (
            SELECT *, CASE WHEN o_orderstatus <> 'O' THEN o_totalprice END AS np
            FROM orders
        )
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "q47_exists_subquery": """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000.0
        )
        AND NOT EXISTS (
            SELECT 1 FROM orders o2
            WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
        )
    """,
    "q48_string_extras": """
        SELECT p_partkey,
               lower(p_name) AS lo_name,
               translate(p_name, 'aeiou', '12345') AS xlate,
               repeat(p_brand, 2) AS brand2,
               reverse(p_name) AS rev_name,
               CAST(levenshtein(p_brand, p_type) AS INTEGER) AS lev_bt,
               split_part(p_name, ' ', 1) AS w1,
               left(p_name, 3) AS l3,
               right(p_name, 3) AS r3,
               contains(p_name, 'ab') AS has_ab,
               replace(p_name, ' ', '_') AS snake,
               CAST(ascii(p_name) AS INTEGER) AS first_cp
        FROM part
    """,
    "q49_date_extras": """
        SELECT o_orderkey,
               CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
               CAST(weekofyear(o_orderdate) AS INTEGER) AS wk,
               CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
               CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
               strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom,
               strftime(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE),
                        '%Y-%m-%d') AS plus3mo,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS INTEGER) AS epoch_day,
               strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS d_rt
        FROM orders
    """,
    "q50_null_order_try_arith": """
        SELECT o_custkey, o_orderkey,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY CASE WHEN o_orderstatus <> 'O' THEN o_totalprice END
                            DESC NULLS LAST,
                            o_orderkey) AS INTEGER) AS rn_nulls_last,
               CASE WHEN o_orderkey % 3 = 0 THEN NULL
                    ELSE o_totalprice / (o_orderkey % 3) END AS safe_div,
               CASE WHEN o_orderkey = 0 THEN 9223372036854775807
                    ELSE CAST(NULL AS BIGINT) END AS safe_add
        FROM orders
    """,
    "q51_array_setops": """
        SELECT c_custkey,
               COALESCE(array_to_string(list_sort(list_distinct(list_filter(a, x -> list_contains(b, x)))), ','), '') AS ab_and,
               array_to_string(list_sort(list_distinct(list_concat(a, b))), ',') AS ab_or,
               COALESCE(array_to_string(list_sort(list_distinct(list_filter(a, x -> NOT list_contains(b, x)))), ','), '') AS ab_not,
               CAST(COALESCE(list_position(a, 3), 0) AS BIGINT) AS pos3,
               COALESCE(array_to_string(list_filter(a, x -> x <> 3), ','), '') AS no3,
               len(list_filter(a, x -> list_contains(b, x))) > 0 AS overlaps,
               array_to_string([c_custkey % 3, c_custkey % 3], ',') AS rep2,
               array_to_string(a, '-') AS joined,
               list_aggregate(a, 'min') AS amin,
               list_aggregate(a, 'max') AS amax
        FROM (
            SELECT c_custkey,
                   [c_custkey % 5, c_custkey % 7, CAST(3 AS BIGINT)] AS a,
                   [c_custkey % 7, CAST(4 AS BIGINT)] AS b
            FROM customer
        )
    """,
    "q52_map_higher_order": """
        SELECT c_custkey,
               (c_custkey % 5) * 2 AS tv_q,
               'Q,R' AS uk,
               CAST((CASE WHEN c_custkey % 5 > 2 THEN 1 ELSE 0 END)
                  + (CASE WHEN c_custkey % 7 > 2 THEN 1 ELSE 0 END) AS INTEGER) AS n_big,
               (c_custkey % 5) * 2 + 10 AS zip_q,
               array_to_string(list_sort(['q=' || (c_custkey % 5), 'r=' || (c_custkey % 7)]), ',') AS entries_str
        FROM customer
    """,
    "q53_outer_explode_regexp": """
        WITH z AS (
            SELECT doc_id, text,
                   list_filter(string_split(text, ' '),
                               w -> regexp_matches(w, '^z')) AS zw
            FROM documents
        )
        SELECT doc_id,
               unnest(CASE WHEN len(zw) = 0 THEN [NULL] ELSE zw END) AS zword,
               CAST(len(regexp_extract_all(text, '[aeiou]{2}')) AS INTEGER) AS n_vv,
               CAST(len(regexp_extract_all(text, 'the')) AS INTEGER) AS n_the,
               regexp_matches(text, '^[a-z]') AS starts_alpha
        FROM z
    """,
    "q54_conversions": """
        SELECT c_custkey,
               bin(c_custkey) AS k_bin,
               lower(hex(c_custkey)) AS k_hex,
               hex(CAST(c_name AS BLOB)) AS name_hex,
               c_name AS name_rt,
               printf('%x', c_custkey) AS k_base16,
               printf('cust-%05d', c_custkey) AS k_fmt
        FROM customer
    """,
    "q55_inline_structs": """
        SELECT c_custkey,
               CASE WHEN t.i = 1 THEN c_custkey % 3 ELSE c_custkey % 5 END AS a,
               CASE WHEN t.i = 1 THEN 'lo' ELSE 'hi' END AS b
        FROM customer CROSS JOIN (VALUES (1), (2)) t(i)
    """,
    "q56_variant_json": """
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS INTEGER) AS vk,
               json_extract_string(props, '$.missing') AS vmissing,
               CAST(json_extract(props, '$.k') AS INTEGER) AS jk
        FROM events
    """,
    "q57_recursive_cte": """
        WITH RECURSIVE months(m) AS (
            SELECT 1
            UNION ALL
            SELECT m + 1 FROM months WHERE m < 12
        )
        SELECT r.r_regionkey, m.m, r.r_regionkey * 100 + m.m AS slot
        FROM region r CROSS JOIN months m
    """,
    "q58_agg_extras": """
        SELECT o_custkey,
               CAST(COUNT(*) FILTER (WHERE o_totalprice > 100000.0) AS BIGINT) AS n_big,
               bool_and(o_totalprice > 0.0) AS all_pos,
               bool_or(o_orderstatus = 'F') AS any_final,
               median(o_totalprice) AS med_price,
               arg_max(o_orderkey, o_totalprice) AS key_of_max,
               arg_min(o_orderkey, o_totalprice) AS key_of_min
        FROM orders GROUP BY o_custkey
    """,
    "q59_regr_agg": """
        WITH m AS (
            SELECT l_returnflag,
                   CAST(COUNT(l_quantity) AS DOUBLE) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sxy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS regr_cnt,
               round(sx / n, 6) AS avg_x,
               round(sy / n, 6) AS avg_y,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
               round(sy / n - (n * sxy - sx * sy) / (n * sxx - sx * sx) * (sx / n), 6)
                   AS intercept,
               round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        FROM m
    """,
    "q60_lateral_join": """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
    """,
    "q61_bitwise_agg": """
        SELECT o_orderpriority,
               bit_and(o_custkey) AS band,
               bit_or(o_custkey) AS bor,
               bit_xor(o_custkey) AS bxor
        FROM orders GROUP BY o_orderpriority
    """,
    "q62_sessionize": """
        WITH g AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN date_diff('second',
                            lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                            ts) > 600
                        OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            IS NULL
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
        ),
        s AS (
            SELECT user_id, ts, value,
                   CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS session_seq
            FROM g
        )
        SELECT user_id, session_seq,
               COUNT(*) AS n_events,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS sess_end,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sess_value
        FROM s GROUP BY user_id, session_seq
    """,
    "q63_url_funcs": """
        WITH u AS (
            SELECT event_id,
                   'https://shop' || (user_id % 5) || '.example.com/p/' || event_type
                       || '?uid=' || user_id || '&ref=search' AS url
            FROM events
        )
        SELECT event_id,
               regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
               regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1) AS path,
               regexp_extract(url, '\\?([^#]*)', 1) AS query,
               regexp_extract(url, '[?&]uid=([^&#]*)', 1) AS uid
        FROM u
    """,
    "q69_time_range_window": """
        WITH d AS (
            SELECT o_custkey, o_orderkey,
                   CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS price
            FROM orders
        )
        SELECT o_custkey, o_orderkey, day,
               CAST(sum(price) OVER w AS DOUBLE) AS trailing_7d,
               count(*) OVER w AS n_7d
        FROM d
        WINDOW w AS (PARTITION BY o_custkey ORDER BY day
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    "q70_histogram": """
        -- width_bucket replicated with Spark's exact float expression:
        -- 1 + floor((x - lo) / ((hi - lo) / n)); x<lo -> 0, x>=hi -> n+1
        SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                    WHEN o_totalprice >= 600000.0 THEN 21
                    ELSE 1 + CAST(floor(o_totalprice / (600000.0 / 20)) AS BIGINT)
               END AS bin,
               count(*) AS n
        FROM orders
        GROUP BY 1
    """,
    "q66_keep_latest": """
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY o_custkey
                ORDER BY o_orderdate DESC, o_orderkey DESC
            ) AS rn
            FROM orders
        ) WHERE rn = 1
    """,
    "q67_agg_filter_having": """
        SELECT o_orderstatus,
               count(*) AS n,
               count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
               CAST(sum(CAST(o_totalprice AS DECIMAL(20,2)))
                    FILTER (WHERE o_orderdate >= DATE '1995-01-01') AS DOUBLE)
                   AS late_revenue
        FROM orders
        GROUP BY o_orderstatus
        HAVING count(*) > 100
    """,
    "q68_string_agg": """
        SELECT n_regionkey,
               array_to_string(list_sort(list(n_name)), ',') AS members,
               count(*) AS n_nations
        FROM nation
        GROUP BY n_regionkey
    """,
    "q65_trig_funcs": """
        SELECT l_orderkey,
               l_linenumber,
               sin(l_quantity) AS sin_q,
               cos(l_quantity) AS cos_q,
               tan(l_discount) AS tan_d,
               asin(l_discount) AS asin_d,
               acos(l_discount) AS acos_d,
               atan(l_quantity) AS atan_q,
               atan2(l_quantity, l_extendedprice) AS atan2_qp,
               degrees(l_discount) AS deg_d,
               radians(l_quantity) AS rad_q,
               cbrt(l_extendedprice) AS cbrt_p,
               (exp(l_discount) - exp(-l_discount)) / 2 AS sinh_d,
               (exp(l_discount) + exp(-l_discount)) / 2 AS cosh_d,
               (exp(2 * l_discount) - 1) / (exp(2 * l_discount) + 1) AS tanh_d,
               log10(l_extendedprice) AS log10_p,
               log2(l_quantity + 1) AS log2_q,
               CAST(sign(l_discount - 0.05) AS DOUBLE) AS sig_d
        FROM lineitem
    """,
    "q64_na_funcs": """
        WITH base AS (
            SELECT o_orderkey,
                   nullif(o_orderstatus, 'P') AS status,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS price,
                   CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_custkey END AS cust
            FROM orders
        )
        SELECT o_orderkey,
               COALESCE(CASE status WHEN 'F' THEN 'FINAL' WHEN 'O' THEN 'OPEN'
                        ELSE status END, 'UNKNOWN') AS status,
               COALESCE(price, -1.0) AS price,
               cust
        FROM base WHERE cust IS NOT NULL
    """,
    "q25_doc_encode": """
        SELECT CAST(c_custkey AS VARCHAR) AS _id,
               '{"c_custkey":' || c_custkey
                   || ',"c_name":"' || c_name
                   || '","c_mktsegment":"' || c_mktsegment || '"}' AS doc
        FROM customer
    """,
}
