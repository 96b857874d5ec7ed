"""The declared correctness query set (SURVEY.md §2.6).

Each entry is a named query that runs over the driver testdata tables
(TESTDATA.md) and/or the ``packets`` fixture (FIXTURES.md §1). Queries are
written as portable ANSI SQL wherever possible so the *same* text runs on
Spark SQL and on the DuckDB oracle; engine-specific variants are provided
where the dialects genuinely diverge (array ops, explode).

Determinism rules (SURVEY.md §2.6): total ORDER BY on every query; money
sums go through DECIMAL(18,2) (exact, order-independent); double aggregates
wrapped in round(); type-normalizing CASTs wherever the two engines widen
differently (e.g. DuckDB ``floor()``→double vs Spark →bigint, DuckDB
``year()``→bigint vs Spark →int), so both engines emit identical values AND
identical column names.

Reference parity notes: PQ1-PQ3 re-express the reference's defrag query
layer (/root/reference/src/main.rs:274-300) over the ``packets`` fixture;
the rest exercise the general relational surface Spark provides natively
(SURVEY.md §2.5).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from pcap_converter_spark.schema import DEFRAG_FILL_COLUMNS, PACKET_COLUMNS
from pcap_converter_spark.session import phase

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
PACKETS_PARQUET = os.path.join(_REPO_ROOT, "fixtures", "data", "packets.parquet")
PACKETS_PCAP = os.path.join(_REPO_ROOT, "fixtures", "data", "packets_fixture.pcap")

def register_packets_view(spark: SparkSession) -> None:
    """Register the ``packets`` view from a LIVE decode of the fixture pcap
    through the real source path (sources/pcap.read_pcap), not from the
    parquet (VERDICT r13 #4): the parquet now holds the generator's
    construction-time expected rows (fixtures/gen_packets.py) and feeds only
    the DuckDB oracle — so every driver run of PQ1-PQ7 hash-compares
    engine-decoded rows against spec-side ground truth, gating the whole
    decode stack (S1, E1-E17) end to end, not just the query layer.

    The decoded frame is cached ON the session object itself (PQ1-PQ7 all
    view the same 2,500 rows — one localCheckpointed decode per session,
    later entries reuse it). Per-OBJECT, not per-applicationId (r14
    review): a sibling ``spark.newSession()`` shares the appId but has an
    ISOLATED temp-view catalog, so an appId-keyed cache would register
    the view into the wrong session's catalog; the attribute also dies
    with the session instead of outliving it in a module dict."""
    df = getattr(spark, "_pcs_packets_df", None)
    if df is None:
        from pcap_converter_spark.sources.pcap import read_pcap

        df, _obs = read_pcap(spark, PACKETS_PCAP)
        df = df.localCheckpoint(eager=True)
        spark._pcs_packets_df = df
    df.createOrReplaceTempView("packets")


@dataclass(frozen=True)
class Q:
    """One declared query: portable body + optional per-engine overrides."""

    name: str
    spark_sql: str
    duck_sql: str | None = None  # None → spark_sql is portable, reuse it
    needs_packets: bool = False

    @property
    def oracle(self) -> str:
        sql = self.duck_sql or self.spark_sql
        if self.needs_packets:
            # The driver pre-registers only the TESTDATA tables; the packets
            # fixture is ours, so the oracle reads the parquet directly.
            cte = f"WITH packets AS (SELECT * FROM read_parquet('{PACKETS_PARQUET}'))"
            body = sql.lstrip()
            if body[:5].upper() == "WITH ":
                # merge into the query's own WITH list (no nested WITH in SQL)
                sql = cte + ", " + body[5:]
            else:
                sql = cte + " " + body
        return sql


# PQ2 body (R4, main.rs:292 with deterministic min_by instead of first()).
_PQ2_SQL = (
    "SELECT ip_src, ip_dst, ip_id, ip_proto, "
    + ", ".join(f"min_by({c}, frame_time) AS {c}" for c in DEFRAG_FILL_COLUMNS)
    + " FROM packets WHERE ip_proto = 17 AND ip_mf = true AND ip_frag_offset = 0"
    " GROUP BY ip_src, ip_dst, ip_id, ip_proto"
    " ORDER BY ip_src, ip_dst, ip_id"
)

# PQ3 (R5, main.rs:296): left join packets→first-fragments, coalesce the six
# propagated columns, project all 31 columns explicitly.
_PQ3_PROJ = ", ".join(
    f"coalesce(p.{c}, ff.{c}) AS {c}" if c in DEFRAG_FILL_COLUMNS else f"p.{c}"
    for c in PACKET_COLUMNS
)
_PQ3_SQL = (
    "WITH ff AS ("
    "  SELECT ip_src, ip_dst, ip_id, ip_proto, "
    + ", ".join(f"min_by({c}, frame_time) AS {c}" for c in DEFRAG_FILL_COLUMNS)
    + "  FROM packets WHERE ip_proto = 17 AND ip_mf = true AND ip_frag_offset = 0"
    "  GROUP BY ip_src, ip_dst, ip_id, ip_proto"
    ") "
    f"SELECT {_PQ3_PROJ} FROM packets p "
    "LEFT JOIN ff ON p.ip_src = ff.ip_src AND p.ip_dst = ff.ip_dst "
    "AND p.ip_proto = ff.ip_proto AND p.ip_id = ff.ip_id "
    "ORDER BY p.frame_time, p.ip_src, p.ip_dst"
)

DECLARED_QUERIES: dict[str, Q] = {
    q.name: q
    for q in [
        # ---------------- packets fixture (reference semantics) -------------
        Q(
            "pq1_frag_pct",
            "SELECT round(100 * count(*) / (SELECT count(*) FROM packets)) AS pct "
            "FROM packets "
            "WHERE (ip_frag_offset = 0 AND ip_mf = true) OR ip_frag_offset > 0",
            needs_packets=True,
        ),
        Q("pq2_first_fragments", _PQ2_SQL, needs_packets=True),
        Q("pq3_defrag", _PQ3_SQL, needs_packets=True),
        # pq4_protocol_mix is a CUSTOM_RUNNER below (r13): it gained a
        # src-tagged 'stream' branch driving readStream.format("pcap")
        Q(
            "pq5_tcp_flags",
            "SELECT tcp_flags, count(*) AS n FROM packets "
            "WHERE tcp_flags IS NOT NULL GROUP BY tcp_flags ORDER BY tcp_flags",
            needs_packets=True,
        ),
        Q(
            "pq6_top_talkers",
            "SELECT ip_src, count(*) AS pkts, CAST(sum(frame_len) AS BIGINT) AS bytes "
            "FROM packets WHERE ip_src IS NOT NULL "
            "GROUP BY ip_src ORDER BY pkts DESC, ip_src LIMIT 10",
            needs_packets=True,
        ),
        Q(
            "pq7_dns_shape",
            "SELECT dns_qry_name, dns_qry_type, count(*) AS n FROM packets "
            "WHERE col_protocol = 'DNS' GROUP BY dns_qry_name, dns_qry_type "
            "ORDER BY n DESC, dns_qry_name, dns_qry_type LIMIT 20",
            needs_packets=True,
        ),
        # ---------------- general operator coverage (TPC-H-ish) -------------
        Q(
            "dq1_scan_filter_project",
            "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
            "WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber",
        ),
        Q(
            "dq2_hash_agg",
            # statistical aggregates ride along (stddev/var/corr/covar —
            # rounded to 4dp: both engines stream in different orders, so
            # low bits differ but the statistic is stable at this scale)
            "SELECT l_returnflag, l_linestatus, count(*) AS n, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, "
            "round(avg(l_discount), 4) AS avg_disc, "
            "round(stddev_samp(l_quantity), 4) AS sd_qty, "
            "round(var_samp(l_discount), 6) AS var_disc, "
            "round(corr(l_quantity, l_extendedprice), 4) AS corr_qp, "
            "round(covar_samp(l_quantity, l_discount), 4) AS cov_qd "
            "FROM lineitem GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus",
        ),
        Q(
            "dq3_multijoin_agg",
            "SELECT r_name, count(*) AS custs, "
            "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal "
            "FROM customer "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "GROUP BY r_name ORDER BY r_name",
        ),
        Q(
            "dq4_left_join_coalesce",
            "SELECT n_name, coalesce(s_cnt, 0) AS s_cnt FROM nation "
            "LEFT JOIN (SELECT s_nationkey, count(*) AS s_cnt FROM supplier "
            "GROUP BY s_nationkey) s ON n_nationkey = s_nationkey ORDER BY n_name",
        ),
        Q(
            "dq5_semi_join",
            "SELECT c_custkey, c_name FROM customer c WHERE EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
            "AND o.o_totalprice > 100000) ORDER BY c_custkey",
        ),
        Q(
            "dq6_anti_join",
            "SELECT c_custkey FROM customer c WHERE NOT EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) "
            "ORDER BY c_custkey",
        ),
        Q(
            "dq7_range_join",
            "SELECT o.o_orderkey, count(*) AS late_lines FROM orders o "
            "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
            "AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY "
            "GROUP BY o.o_orderkey ORDER BY late_lines DESC, o.o_orderkey LIMIT 25",
        ),
        Q(
            "dq8_scalar_subquery",
            "SELECT o_orderkey, o_totalprice FROM orders "
            "WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders) "
            "ORDER BY o_orderkey",
        ),
        Q(
            "dq9_window_rank",
            "SELECT c_mktsegment, c_custkey, rnk FROM "
            "(SELECT c_mktsegment, c_custkey, row_number() OVER "
            "(PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rnk "
            "FROM customer) t WHERE rnk <= 3 ORDER BY c_mktsegment, rnk",
        ),
        Q(
            "dq10_window_frame",
            "SELECT o_custkey, o_orderkey, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER "
            "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run "
            "FROM orders ORDER BY o_custkey, o_orderkey",
        ),
        Q(
            "dq11_lag",
            "SELECT user_id, event_id, lag(event_type) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS prev_type "
            "FROM events ORDER BY user_id, event_id",
        ),
        Q(
            "dq12_rollup",
            "SELECT o_orderpriority, o_orderstatus, "
            "CAST(grouping(o_orderstatus) AS INT) AS g, count(*) AS n "
            "FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus) "
            "ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST, g",
        ),
        # All four set operators in one tagged result (one driver row proves
        # INTERSECT/EXCEPT/UNION/UNION ALL together; r2 verified them as four
        # separate green rows — merged to fit the driver's 50-entry window).
        Q(
            "dq13_setops",
            "SELECT op, k, n FROM ("
            "SELECT 'intersect' AS op, k, CAST(1 AS BIGINT) AS n FROM "
            "(SELECT c_nationkey AS k FROM customer INTERSECT "
            "SELECT s_nationkey FROM supplier) t1 "
            "UNION ALL SELECT 'except' AS op, k, CAST(1 AS BIGINT) AS n FROM "
            "(SELECT c_nationkey AS k FROM customer EXCEPT "
            "SELECT s_nationkey FROM supplier) t2 "
            "UNION ALL SELECT 'union' AS op, k, CAST(1 AS BIGINT) AS n FROM "
            "(SELECT c_nationkey AS k FROM customer UNION "
            "SELECT s_nationkey FROM supplier) t3 "
            "UNION ALL SELECT 'union_all' AS op, k, count(*) AS n FROM "
            "(SELECT c_nationkey AS k FROM customer UNION ALL "
            "SELECT s_nationkey FROM supplier) t4 GROUP BY k"
            ") u ORDER BY op, k",
        ),
        # dq15 (HAVING) folded in r5 as the op-tagged 'having' branch to
        # free a driver-window slot (both are bare aggregates over orders;
        # one hash still gates COUNT DISTINCT and post-aggregation filter)
        Q(
            "dq14_distinct_agg",
            "SELECT op, k, n FROM ("
            "SELECT 'distinct' AS op, o_orderstatus AS k, "
            "count(DISTINCT o_custkey) AS n "
            "FROM orders GROUP BY o_orderstatus "
            "UNION ALL "
            "SELECT 'having' AS op, CAST(o_custkey AS STRING) AS k, "
            "count(*) AS n FROM orders GROUP BY o_custkey "
            "HAVING count(*) >= 3"
            ") u ORDER BY op, k",
        ),
        # dq17 (LIKE / CASE / concat) folded in r5 to free a driver-window
        # slot: the LIKE predicate survives as a conditional projection
        # (NULL where the former dq17 filter would have dropped the row),
        # so the same hash still gates all three surfaces on every part row.
        Q(
            "dq16_string_fns",
            "SELECT p_partkey, upper(p_brand) AS b, length(p_name) AS ln, "
            "substr(p_type, 1, 5) AS t5, replace(p_brand, '#', '-') AS r, "
            "regexp_extract(p_name, '([a-z]+)', 1) AS w, "
            "CAST(levenshtein(p_brand, 'Brand#13') AS INT) AS lev, "
            "reverse(p_brand) AS rev, lpad(p_brand, 12, '_') AS pad, "
            "split_part(p_type, ' ', 2) AS ty2, "
            "translate(p_brand, '#', '~') AS tr, repeat(p_brand, 2) AS rep, "
            "CASE WHEN p_size > 25 THEN 'L' "
            "WHEN p_size > 10 THEN 'M' ELSE 'S' END AS sz, "
            "CASE WHEN p_name LIKE '%a%' THEN p_brand || '/' || p_type "
            "END AS bt "
            "FROM part ORDER BY p_partkey",
        ),
        Q(
            "dq18_date_fns",
            spark_sql=(
                "SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS y, "
                "CAST(month(o_orderdate) AS INT) AS m, "
                "date_trunc('month', o_orderdate) AS mon, "
                "o_orderdate + INTERVAL 30 DAY AS due, "
                "CAST(quarter(o_orderdate) AS INT) AS q, "
                "CAST(last_day(o_orderdate) AS TIMESTAMP) AS ld, "
                # Mon=0 weekday; engines disagree on dayofweek origin, so each
                # dialect derives the same ISO-based value its own way
                "CAST(weekday(o_orderdate) AS INT) AS dow, "
                "CAST(datediff(o_orderdate, DATE '1995-01-01') AS INT) AS dd, "
                "date_format(o_orderdate, 'yyyy-MM') AS ym "
                "FROM orders ORDER BY o_orderkey"
            ),
            duck_sql=(
                "SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS y, "
                "CAST(month(o_orderdate) AS INT) AS m, "
                "date_trunc('month', o_orderdate) AS mon, "
                "o_orderdate + INTERVAL 30 DAY AS due, "
                "CAST(quarter(o_orderdate) AS INT) AS q, "
                "CAST(last_day(o_orderdate) AS TIMESTAMP) AS ld, "
                "CAST(isodow(o_orderdate) - 1 AS INT) AS dow, "
                "CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS INT)"
                " AS dd, "
                "strftime(o_orderdate, '%Y-%m') AS ym "
                "FROM orders ORDER BY o_orderkey"
            ),
        ),
        Q(
            "dq19_math_fns",
            # deliberately restricted to IEEE-correctly-rounded operations
            # (sqrt, floor/ceil, abs, sign, %, min/max): transcendental fns
            # (log, sin, pow) are not correctly rounded, so engines may
            # legitimately differ in the last ulp and cannot be hash-gated
            "SELECT l_orderkey, l_linenumber, round(sqrt(l_quantity), 4) AS sq, "
            "abs(l_discount - 0.05) > 0.001 AS far, "
            "CAST(floor(l_extendedprice / 1000) AS BIGINT) AS kbucket, "
            "CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS kceil, "
            "CAST(sign(l_discount - 0.05) AS INT) AS sgn, "
            "round(greatest(l_tax, l_discount), 4) AS g, "
            "round(least(l_tax, l_discount), 4) AS l, "
            "CAST(l_partkey % 7 AS INT) AS m7 "
            "FROM lineitem ORDER BY l_orderkey, l_linenumber",
        ),
        Q(
            "dq20_conditional_pivot",
            # native PIVOT then UNPIVOT back to long form: one hash-checked
            # result proves both reshaping operators; the oracle re-derives
            # the long form with a dense cross join + conditional counts
            spark_sql=(
                "WITH pv AS (SELECT * FROM "
                "(SELECT o_orderpriority, o_orderstatus FROM orders) "
                "PIVOT (count(1) FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p))) "
                "SELECT o_orderpriority, status, CAST(coalesce(cnt, 0) AS BIGINT) AS cnt "
                "FROM pv UNPIVOT INCLUDE NULLS (cnt FOR status IN (f, o, p)) "
                "ORDER BY o_orderpriority, status"
            ),
            duck_sql=(
                "SELECT p.o_orderpriority, s.status, "
                "CAST(coalesce(c.n, 0) AS BIGINT) AS cnt "
                "FROM (SELECT DISTINCT o_orderpriority FROM orders) p "
                "CROSS JOIN (VALUES ('f'), ('o'), ('p')) s(status) "
                "LEFT JOIN (SELECT o_orderpriority, lower(o_orderstatus) AS status, "
                "count(*) AS n FROM orders GROUP BY 1, 2) c "
                "ON p.o_orderpriority = c.o_orderpriority AND s.status = c.status "
                "ORDER BY p.o_orderpriority, s.status"
            ),
        ),
        Q(
            "dq21_sessionization",
            "SELECT user_id, session_id, count(*) AS n_events, min(ts) AS t0 FROM "
            "(SELECT user_id, ts, CAST(sum(new_s) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id FROM "
            "(SELECT user_id, event_id, ts, CASE WHEN "
            "ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
            "> INTERVAL 30 MINUTE OR lag(ts) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
            "THEN 1 ELSE 0 END AS new_s FROM events) a) b "
            "GROUP BY user_id, session_id ORDER BY user_id, session_id",
        ),
        # dq22/dq23 are registered via CUSTOM_RUNNERS below: each runs the
        # batch SQL AND an alternate engine path (Structured Streaming /
        # the union+window as-of operator) tagged by `src`, so one driver row
        # hash-proves both paths produce the identical answer.
        Q(
            "dq24_text_basics",
            "SELECT lang, count(*) AS docs, round(avg(n_chars), 2) AS avg_chars, "
            "max(length(text)) AS max_len FROM documents GROUP BY lang ORDER BY lang",
        ),
        Q(
            "dq25_exact_dedup",
            "SELECT text, count(*) AS dups FROM documents GROUP BY text "
            "HAVING count(*) > 1 ORDER BY dups DESC, text",
        ),
        # dq26 covers the array/higher-order-function family end to end:
        # size/element_at, array_max/min, a left-fold sum (Spark `aggregate`
        # vs DuckDB `list_reduce` — both exact left folds in element order,
        # so doubles match bit-for-bit), sort_array, reverse, slice,
        # filter+size, transform (elements cast to DOUBLE before arithmetic
        # so neither engine does float32 math), array_position,
        # sequence/range length, and struct construction + field access —
        # PLUS, op-tagged into the same result (r5 merge, one driver row
        # for the whole array surface), the positional explode
        # (LATERAL VIEW posexplode vs unnest/generate_subscripts), formerly
        # entry dq27. NULL-padded union: each branch fills only its own
        # columns, with explicit NULL casts so both engines agree on types.
        Q(
            "dq26_array_ops",
            spark_sql=(
                "SELECT op, vec_id, pos, d, e1, amax, amin, asum, srt3, "
                "rev1, sl2, npos, tr5, posmax, seqn, sb, v FROM ("
                "SELECT 'array_ops' AS op, vec_id, CAST(NULL AS INT) AS pos, "
                "CAST(size(embedding) AS INT) AS d, "
                "round(CAST(element_at(embedding, 1) AS DOUBLE), 4) AS e1, "
                "round(CAST(array_max(embedding) AS DOUBLE), 4) AS amax, "
                "round(CAST(array_min(embedding) AS DOUBLE), 4) AS amin, "
                "round(aggregate(embedding, CAST(0 AS DOUBLE), "
                "(a, x) -> a + CAST(x AS DOUBLE)), 4) AS asum, "
                "round(CAST(element_at(sort_array(embedding), 3) AS DOUBLE), 4) "
                "AS srt3, "
                "round(CAST(element_at(reverse(embedding), 1) AS DOUBLE), 4) "
                "AS rev1, "
                "round(CAST(element_at(slice(embedding, 2, 3), 2) AS DOUBLE), 4) "
                "AS sl2, "
                "CAST(size(filter(embedding, x -> x > 0)) AS INT) AS npos, "
                "round(element_at(transform(embedding, "
                "x -> CAST(x AS DOUBLE) * 2 + 1), 5), 4) AS tr5, "
                "CAST(array_position(sort_array(embedding), "
                "array_max(embedding)) AS INT) AS posmax, "
                "CAST(size(sequence(1, CAST(vec_id % 5 AS INT) + 1)) AS INT) "
                "AS seqn, "
                "named_struct('a', 1, 'b', vec_id).b AS sb, "
                "CAST(NULL AS DOUBLE) AS v "
                "FROM embeddings "
                "UNION ALL "
                "SELECT 'posexplode' AS op, vec_id, CAST(pos AS INT) AS pos, "
                "CAST(NULL AS INT) AS d, CAST(NULL AS DOUBLE) AS e1, "
                "CAST(NULL AS DOUBLE) AS amax, CAST(NULL AS DOUBLE) AS amin, "
                "CAST(NULL AS DOUBLE) AS asum, CAST(NULL AS DOUBLE) AS srt3, "
                "CAST(NULL AS DOUBLE) AS rev1, CAST(NULL AS DOUBLE) AS sl2, "
                "CAST(NULL AS INT) AS npos, CAST(NULL AS DOUBLE) AS tr5, "
                "CAST(NULL AS INT) AS posmax, CAST(NULL AS INT) AS seqn, "
                "CAST(NULL AS BIGINT) AS sb, "
                "round(CAST(t.v AS DOUBLE), 4) AS v "
                "FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, v "
                "WHERE vec_id < 5"
                ") u ORDER BY op, vec_id, pos"
            ),
            duck_sql=(
                "SELECT op, vec_id, pos, d, e1, amax, amin, asum, srt3, "
                "rev1, sl2, npos, tr5, posmax, seqn, sb, v FROM ("
                "SELECT 'array_ops' AS op, vec_id, CAST(NULL AS INT) AS pos, "
                "CAST(len(embedding) AS INT) AS d, "
                "round(CAST(embedding[1] AS DOUBLE), 4) AS e1, "
                "round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 4) "
                "AS amax, "
                "round(CAST(list_aggregate(embedding, 'min') AS DOUBLE), 4) "
                "AS amin, "
                "round(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
                "embedding::DOUBLE[]), (a, x) -> a + x), 4) AS asum, "
                "round(CAST(list_sort(embedding)[3] AS DOUBLE), 4) AS srt3, "
                "round(CAST(list_reverse(embedding)[1] AS DOUBLE), 4) AS rev1, "
                "round(CAST(embedding[2:4][2] AS DOUBLE), 4) AS sl2, "
                "CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS npos, "
                "round(list_transform(embedding, "
                "x -> CAST(x AS DOUBLE) * 2 + 1)[5], 4) AS tr5, "
                "CAST(list_position(list_sort(embedding), "
                "list_aggregate(embedding, 'max')) AS INT) AS posmax, "
                "CAST(len(range(1, vec_id % 5 + 2)) AS INT) AS seqn, "
                "struct_pack(a := 1, b := vec_id).b AS sb, "
                "CAST(NULL AS DOUBLE) AS v "
                "FROM embeddings "
                "UNION ALL "
                "SELECT 'posexplode' AS op, vec_id, "
                "CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos, "
                "CAST(NULL AS INT) AS d, CAST(NULL AS DOUBLE) AS e1, "
                "CAST(NULL AS DOUBLE) AS amax, CAST(NULL AS DOUBLE) AS amin, "
                "CAST(NULL AS DOUBLE) AS asum, CAST(NULL AS DOUBLE) AS srt3, "
                "CAST(NULL AS DOUBLE) AS rev1, CAST(NULL AS DOUBLE) AS sl2, "
                "CAST(NULL AS INT) AS npos, CAST(NULL AS DOUBLE) AS tr5, "
                "CAST(NULL AS INT) AS posmax, CAST(NULL AS INT) AS seqn, "
                "CAST(NULL AS BIGINT) AS sb, "
                "round(CAST(unnest(embedding) AS DOUBLE), 4) AS v "
                "FROM embeddings WHERE vec_id < 5"
                ") u ORDER BY op, vec_id, pos"
            ),
        ),
    ]
}


# ---------------------------------------------------------------------------
# dq22 / dq23: dual-path parity queries (batch SQL + alternate engine path,
# unioned with a `src` tag; the oracle repeats the batch SQL once per tag so
# the driver's hash-compare proves the two paths agree value-for-value).
# ---------------------------------------------------------------------------

_DQ22_BODY = (
    "SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n, "
    "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v "
    "FROM events GROUP BY date_trunc('hour', ts), event_type"
)

_DQ23_BODY = (
    "SELECT e.event_id, max(s.ts) AS prev_ts FROM events e "
    "JOIN events s ON s.user_id = e.user_id AND s.ts < e.ts "
    "GROUP BY e.event_id"
)


def _run_dq22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windows, three paths in one tagged result: tumbling via
    batch SQL ('batch') AND Structured Streaming ('stream' — readStream →
    watermark → window agg → availableNow drain), hash-proved identical;
    plus a sliding 1h/30m window ('slide') whose overlapping-window
    assignment the oracle re-derives by exploding each event into its two
    containing windows. Covers the former separate ex_stream_tumbling
    entry."""
    from pyspark.sql import functions as F

    from pcap_converter_spark.io.loader import load_table, register_views
    from pcap_converter_spark.streaming import windows as W

    register_views(spark, sf_dir)
    batch = spark.sql(_DQ22_BODY).withColumn("src", F.lit("batch"))
    # fixture-scale shuffle trim for the DRAIN only (the _CURATE_PARTS
    # runner-tuning convention; scope exits before the batch/slide sides
    # materialize): state-store count = shuffle partitions for a
    # streaming agg, and 32 stores of per-batch delta+commit files is
    # fixed overhead for KB state (measured: warm entry 1.85 s at 32 →
    # 1.25 s at 8; identical rows). Production sizes this to its state.
    from pcap_converter_spark.operators.registry import (
        _CURATE_PARTS, _DRAIN_NO_EMPTY_BATCH, _scoped_conf,
        _scoped_shuffle_partitions,
    )

    with phase(spark, "drain"), _scoped_shuffle_partitions(
        spark, _CURATE_PARTS
    ), _scoped_conf(spark, *_DRAIN_NO_EMPTY_BATCH):
        stream = W.run_available_now(
            W.tumbling_counts(W.read_events_stream(spark, sf_dir)),
            "dq22_stream",
        )
    # streaming path runs on TimestampType (watermark requirement; session TZ
    # pinned UTC) — relabel back to NTZ so the union is type-identical
    stream = stream.select(
        F.col("h").cast("timestamp_ntz").alias("h"), "event_type", "n", "v"
    ).withColumn("src", F.lit("stream"))
    slide = (
        W.sliding_counts(load_table(spark, sf_dir, "events"))
        .select(
            F.col("h").cast("timestamp_ntz").alias("h"), "event_type", "n", "v"
        )
        .withColumn("src", F.lit("slide"))
    )
    batch = batch.unionByName(slide)
    return (
        batch.unionByName(stream)
        .select("src", "h", "event_type", "n", "v")
    )


# sliding-window oracle: a 1h window hopping every 30m contains each event
# exactly twice — once in the window starting at its 30m-floor, once in the
# one 30m earlier. The explode-then-group re-derives Spark's window()
# assignment independently.
_DQ22_SLIDE_BODY = (
    "SELECT h, event_type, count(*) AS n, "
    "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v "
    "FROM (SELECT unnest(["
    "make_timestamp((epoch_ms(ts) - epoch_ms(ts) % 1800000) * 1000), "
    "make_timestamp((epoch_ms(ts) - epoch_ms(ts) % 1800000 - 1800000) * 1000)"
    "]) AS h, event_type, value FROM events) t "
    "GROUP BY h, event_type"
)

_DQ22_ORACLE = (
    f"SELECT 'batch' AS src, * FROM ({_DQ22_BODY}) a "
    f"UNION ALL SELECT 'stream' AS src, * FROM ({_DQ22_BODY}) b "
    f"UNION ALL SELECT 'slide' AS src, * FROM ({_DQ22_SLIDE_BODY}) c "
    "ORDER BY src, h, event_type"
)


def _run_dq23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (most recent earlier event per key): the O(n·m) inequality
    self-join AND the scalable union+running-last operator (ONE shuffle, no
    join node — operators/asof.py), hash-proved identical. Covers the former
    separate ex_asof_union entry."""
    from pyspark.sql import functions as F

    from pcap_converter_spark.io.loader import load_table, register_views
    from pcap_converter_spark.operators.asof import asof_join

    register_views(spark, sf_dir)
    batch = spark.sql(_DQ23_BODY).withColumn("src", F.lit("join"))
    ev = load_table(spark, sf_dir, "events")
    alt = (
        asof_join(ev, ev, on=["user_id"], left_ts="ts", right_ts="ts")
        .filter(F.col("ts_asof").isNotNull())
        .select("event_id", F.col("ts_asof").alias("prev_ts"))
        .withColumn("src", F.lit("asof"))
    )
    return (
        batch.unionByName(alt)
        .select("src", "event_id", "prev_ts")
    )


_DQ23_ORACLE = (
    f"SELECT 'join' AS src, * FROM ({_DQ23_BODY}) a "
    f"UNION ALL SELECT 'asof' AS src, * FROM ({_DQ23_BODY}) b "
    "ORDER BY src, event_id"
)

# PQ4 (r13, VERDICT r12 #3): the protocol-mix aggregation in two
# src-tagged branches — 'batch' over the decoded-fixture parquet, and
# 'stream' over the SAME fixture pcap drained through the
# Structured-Streaming face (readStream.format("pcap") → availableNow →
# memory sink, once per session — registry._pcap_stream_table, the warc
# 'stream' template). The oracle computes the identical aggregation from
# the generator ground-truth parquet under BOTH tags, so a hash match
# proves the stream face's offset planning, chunk partitioning, Arrow
# decode, and exactly-once drain deliver byte-equal rows to the batch
# decode — the last pytest-only face now inside the driver gate.
_PQ4_BODY = (
    "SELECT col_protocol, count(*) AS n, round(avg(frame_len), 2) AS avg_len "
    "FROM packets GROUP BY col_protocol"
)


def _run_pq4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from pcap_converter_spark.io.loader import register_views
    from pcap_converter_spark.operators.registry import _pcap_stream_table

    register_views(spark, sf_dir)
    register_packets_view(spark)
    batch = spark.sql(_PQ4_BODY).withColumn("src", F.lit("batch"))
    streamed = (
        spark.table(_pcap_stream_table(spark))
        .groupBy("col_protocol")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("frame_len"), 2).alias("avg_len"),
        )
        .withColumn("src", F.lit("stream"))
    )
    return (
        batch.unionByName(streamed)
        .select("src", "col_protocol", "n", "avg_len")
    )


_PQ4_ORACLE = (
    f"WITH packets AS (SELECT * FROM read_parquet('{PACKETS_PARQUET}')), "
    f"body AS ({_PQ4_BODY}) "
    "SELECT 'batch' AS src, * FROM body "
    "UNION ALL SELECT 'stream' AS src, * FROM body "
    "ORDER BY src, col_protocol"
)

CUSTOM_RUNNERS = {
    "pq4_protocol_mix": (_run_pq4, _PQ4_ORACLE),
    "dq22_tumbling_window": (_run_dq22, _DQ22_ORACLE),
    "dq23_asof": (_run_dq23, _DQ23_ORACLE),
}


def _make_runner(q: Q):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Imported lazily so this module stays importable without pyspark up.
        from pcap_converter_spark.io.loader import register_views

        register_views(spark, sf_dir)
        if q.needs_packets:
            register_packets_view(spark)
        return spark.sql(q.spark_sql)

    run.__name__ = f"run_{q.name}"
    return run


def spark_query_map() -> dict:
    """name → callable(spark, sf_dir) → DataFrame, for __spark_entry__.queries()."""
    out = {name: _make_runner(q) for name, q in DECLARED_QUERIES.items()}
    for name, (runner, _) in CUSTOM_RUNNERS.items():
        out[name] = runner
    return out


def oracle_sql_map() -> dict[str, str]:
    """name → DuckDB-runnable SQL, for __spark_entry__.oracle_sql()."""
    out = {name: q.oracle for name, q in DECLARED_QUERIES.items()}
    for name, (_, oracle) in CUSTOM_RUNNERS.items():
        out[name] = oracle
    return out
