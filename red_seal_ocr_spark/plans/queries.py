"""Driver-contract queries + DuckDB oracles (SURVEY.md section 5, test #5).

Each query exercises operators from the SURVEY.md section 2 inventory on
the driver-provided neutral tables (region nation customer supplier part
orders lineitem events documents embeddings), plus the training-data
pipeline operators (dedup, similarity search, text analysis).  Keys map
1:1 between ``SPARK_QUERIES`` and ``ORACLE_SQL``.  Queries whose Spark
expressions have no DuckDB builtin twin (the extraction flagship, the
hashing, float-fold and UDF operators) take their oracle from
``generated_oracles.py``: values computed by independent pure-Python
mirrors and pinned as ``VALUES`` literals.

Determinism rules for hash-stable comparison:
- prefer integer/string outputs; money as bigint cents;
- unavoidable ratios rounded to 4 decimals;
- every computed column aliased identically in Spark and SQL.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .queries2 import ORACLE_SQL_2, SPARK_QUERIES_2, _t


# ---------------------------------------------------------------------------
# relational operator coverage (scan/filter/agg/join/sort/set; SURVEY 2.1-2.8)
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark, sf):
    """TPC-H Q1 shape: filter -> groupBy agg -> sort (A1/A2 aggregations)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q64_top_orders(spark, sf):
    """Global sort + limit (O1/O4 ordering and caps)."""
    return (
        _t(spark, sf, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_cents"),
        )
        .orderBy(F.desc("total_cents"), "o_orderkey")
        .limit(10)
    )


def q65_order_priority(spark, sf):
    """Range filter + group count (P-predicates, A1)."""
    o = _t(spark, sf, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1994-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-01-01"))
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q04_nation_revenue(spark, sf):
    """3-way join -> agg (media-bytes join analog, SURVEY 2.4)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    n = _t(spark, sf, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("orders_cnt"),
            F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("revenue_cents"),
        )
        .orderBy("n_name")
    )


def q66_region_nations(spark, sf):
    """Small-dim broadcast join + projection + sort."""
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")
    )


def q06_parts_in_lineitem(spark, sf):
    """Left-semi join (EXISTS; SURVEY 2.4 reassembly-side membership)."""
    p = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem").select("l_partkey")
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
        .orderBy("p_brand")
    )


def q07_customers_no_orders(spark, sf):
    """Left-anti join — the resume/checkpoint operator shape (SURVEY 2.4)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").select("o_custkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


def q67_distinct_segments(spark, sf):
    """Distinct (set-dedup, SURVEY 2.7)."""
    return _t(spark, sf, "customer").select("c_mktsegment").distinct().orderBy("c_mktsegment")


def q68_union_nationkeys(spark, sf):
    """Union-distinct of two sources (splice-union analog, SURVEY 2.7)."""
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct().orderBy("nationkey")


def q10_top2_orders_per_cust(spark, sf):
    """Window row_number — per-group ordered top-k (O2/O3 ordering)."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    )


def q11_events_hourly(spark, sf):
    """Tumbling-window aggregation over the events stream table (batch
    equivalent of the streaming path; SURVEY 2.10)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")),
                          "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value") * 100).cast("bigint").alias("value_cents"),
        )
        .orderBy("hour", "event_type")
    )


def q12_user_funnel(spark, sf):
    """Conditional aggregation (pivot-ish) + ordered limit."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("views"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("clicks"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("purchases"),
        )
        .filter(F.col("purchases") >= 1)
        .orderBy(F.desc("purchases"), "user_id")
        .limit(50)
    )


def q13_string_funcs(spark, sf):
    """String function surface: md5 / trim / upper / substring (SURVEY 2.8)."""
    c = _t(spark, sf, "customer")
    return (
        c.filter(F.col("c_custkey") <= 20)
        .select(
            "c_custkey",
            F.md5(F.lower(F.trim(F.col("c_name")))).alias("name_md5"),
            F.upper(F.substring(F.col("c_name"), 1, 8)).alias("name_prefix"),
            F.length("c_name").cast("bigint").alias("name_len"),
        )
        .orderBy("c_custkey")
    )


def q14_quality_flag(spark, sf):
    """The P1 quality-gate predicate shape (two OR'd thresholds -> route)."""
    o = _t(spark, sf, "orders")
    return (
        o.select(
            F.when(
                (F.col("o_totalprice") < 50000) | (F.col("o_orderpriority") == "5-LOW"),
                F.lit("low"),
            )
            .otherwise(F.lit("high"))
            .alias("quality"),
        )
        .groupBy("quality")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("quality")
    )


# ---------------------------------------------------------------------------
# training-data pipeline operators (dedup / text analysis / similarity)
# ---------------------------------------------------------------------------


def q15_dedup_fingerprint(spark, sf):
    """Exact dedup via normalized md5 fingerprint (hash-groupBy dedup)."""
    from ..operators.dedup import normalized_fingerprint

    d = _t(spark, sf, "documents")
    fp = normalized_fingerprint("text")
    return d.select(fp.alias("fingerprint")).groupBy().agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fingerprint").alias("n_distinct"),
    )


def q16_token_stats(spark, sf):
    """Token counting (whitespace tokenizer) per language."""
    d = _t(spark, sf, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        d.select("lang", toks.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
        )
        .orderBy("lang")
    )


def q17_doc_quality(spark, sf):
    """Quality scoring: char/token ratios per source (length heuristics)."""
    d = _t(spark, sf, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        d.select(
            "source",
            "n_chars",
            toks.alias("n_tokens"),
            (F.col("n_chars") < 100).cast("int").alias("is_short"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.avg(F.col("n_chars") / F.col("n_tokens")), 4).alias("avg_chars_per_token"),
            F.sum("is_short").alias("short_docs"),
        )
        .orderBy("source")
    )


def q18_ann_cosine_topk(spark, sf):
    """Brute-force cosine top-k similarity search over embeddings.

    Query set = vec_id < 5; candidates = all other vectors.  Double-
    precision dot/norms so ranks match the DuckDB oracle bit-for-bit;
    output is integer-only (query, neighbor, rank).
    """
    e = _t(spark, sf, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    vecs = e.select("vec_id", dbl.alias("emb"))
    q = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    c = vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("c_emb"))
    dot = F.aggregate(
        F.zip_with("q_emb", "c_emb", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    nq = F.sqrt(
        F.aggregate(F.transform("q_emb", lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x)
    )
    nc = F.sqrt(
        F.aggregate(F.transform("c_emb", lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x)
    )
    sims = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", (dot / (nq * nc)).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


def q19_ngram_overlap_pairs(spark, sf):
    """Token-set Jaccard near-dup candidates (integer num/den outputs).

    Same-language doc pairs among doc_id < 60; emits pairs sharing >= 20
    distinct tokens — the n-gram-Jaccard dedup shape at test scale.
    """
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 60)
    toks = F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
    t = d.select("doc_id", "lang", toks.alias("toks"))
    a = t.select(
        F.col("doc_id").alias("a_id"), F.col("lang").alias("a_lang"), F.col("toks").alias("a_toks")
    )
    b = t.select(
        F.col("doc_id").alias("b_id"), F.col("lang").alias("b_lang"), F.col("toks").alias("b_toks")
    )
    pairs = a.join(b, (F.col("a_lang") == F.col("b_lang")) & (F.col("a_id") < F.col("b_id")))
    inter = F.size(F.array_intersect("a_toks", "b_toks"))
    union = F.size(F.array_union("a_toks", "b_toks"))
    return (
        pairs.select("a_id", "b_id", inter.cast("bigint").alias("inter_size"),
                     union.cast("bigint").alias("union_size"))
        .filter(F.col("inter_size") >= 20)
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# flagship (non-SQL-expressible -> pinned oracle in generated_oracles.py)
# ---------------------------------------------------------------------------


def q20_extract_flagship(spark, sf):
    """The extraction pipeline on a synthesized interleaved table (north
    rule flagship; input_hint schema is not in the driver testdata, so the
    input is generated deterministically executor-side)."""
    from ..operators.extract import extract_documents
    from ..sources.spark_tables import documents_df, media_df

    docs = documents_df(spark, 24)
    media = media_df(spark, 24)
    out = extract_documents(spark, docs, media)
    return out.select(
        "doc_id",
        "n_spans",
        "n_media",
        "n_failures",
        F.to_json("spans").alias("spans_json"),
    ).orderBy("doc_id")


SPARK_QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q64_top_orders": q64_top_orders,
    "q65_order_priority": q65_order_priority,
    "q85_nation_revenue": q04_nation_revenue,
    "q66_region_nations": q66_region_nations,
    "q79_parts_in_lineitem": q06_parts_in_lineitem,
    "q80_customers_no_orders": q07_customers_no_orders,
    "q67_distinct_segments": q67_distinct_segments,
    "q68_union_nationkeys": q68_union_nationkeys,
    "q86_top2_orders_per_cust": q10_top2_orders_per_cust,
    "q87_events_hourly": q11_events_hourly,
    "q81_user_funnel": q12_user_funnel,
    "q83_string_funcs": q13_string_funcs,
    "q88_quality_flag": q14_quality_flag,
    "q15_dedup_fingerprint": q15_dedup_fingerprint,
    "q89_token_stats": q16_token_stats,
    "q17_doc_quality": q17_doc_quality,
    "q18_ann_cosine_topk": q18_ann_cosine_topk,
    "q19_ngram_overlap_pairs": q19_ngram_overlap_pairs,
    "q20_extract_flagship": q20_extract_flagship,
    **SPARK_QUERIES_2,
}

ORACLE_SQL = {
    "q01_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(AVG(l_quantity), 4) AS avg_qty,
               ROUND(AVG(l_discount), 4) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q64_top_orders": """
        SELECT o_orderkey, o_custkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
        FROM orders
        ORDER BY total_cents DESC, o_orderkey
        LIMIT 10
    """,
    "q65_order_priority": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1994-01-01'
          AND o_orderdate < TIMESTAMP '1995-01-01'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q85_nation_revenue": """
        SELECT n_name, COUNT(*) AS orders_cnt,
               CAST(ROUND(SUM(o_totalprice) * 100) AS BIGINT) AS revenue_cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name
    """,
    "q66_region_nations": """
        SELECT r_name, n_name
        FROM nation JOIN region ON n_regionkey = r_regionkey
        ORDER BY r_name, n_name
    """,
    "q79_parts_in_lineitem": """
        SELECT p_brand, COUNT(*) AS n_parts
        FROM part
        WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        GROUP BY p_brand
        ORDER BY p_brand
    """,
    "q80_customers_no_orders": """
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    "q67_distinct_segments": """
        SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment
    """,
    "q68_union_nationkeys": """
        SELECT nationkey FROM (
            SELECT c_nationkey AS nationkey FROM customer
            UNION
            SELECT s_nationkey AS nationkey FROM supplier
        ) ORDER BY nationkey
    """,
    "q86_top2_orders_per_cust": """
        SELECT o_custkey, o_orderkey, rn FROM (
            SELECT o_custkey, o_orderkey,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
            FROM orders
        ) WHERE rn <= 2
        ORDER BY o_custkey, rn
    """,
    "q87_events_hourly": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(value) * 100) AS BIGINT) AS value_cents
        FROM events
        GROUP BY 1, 2
        ORDER BY hour, event_type
    """,
    "q81_user_funnel": """
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases
        FROM events
        GROUP BY user_id
        HAVING purchases >= 1
        ORDER BY purchases DESC, user_id
        LIMIT 50
    """,
    "q83_string_funcs": """
        SELECT c_custkey,
               md5(lower(trim(c_name))) AS name_md5,
               upper(substring(c_name, 1, 8)) AS name_prefix,
               CAST(length(c_name) AS BIGINT) AS name_len
        FROM customer
        WHERE c_custkey <= 20
        ORDER BY c_custkey
    """,
    "q88_quality_flag": """
        SELECT CASE WHEN o_totalprice < 50000 OR o_orderpriority = '5-LOW'
                    THEN 'low' ELSE 'high' END AS quality,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY 1
        ORDER BY quality
    """,
    "q15_dedup_fingerprint": """
        SELECT COUNT(*) AS n_docs,
               COUNT(DISTINCT md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS n_distinct
        FROM documents
    """,
    "q89_token_stats": """
        SELECT lang, COUNT(*) AS n_docs,
               ROUND(AVG(len(string_split_regex(trim(text), '\\s+'))), 4) AS avg_tokens,
               MAX(len(string_split_regex(trim(text), '\\s+'))) AS max_tokens
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    "q17_doc_quality": """
        SELECT source, COUNT(*) AS n_docs,
               ROUND(AVG(n_chars), 4) AS avg_chars,
               ROUND(AVG(CAST(n_chars AS DOUBLE)
                         / len(string_split_regex(trim(text), '\\s+'))), 4)
                   AS avg_chars_per_token,
               CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
    "q18_ann_cosine_topk": """
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        ), sims AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(q.emb, c.emb)
                   / (sqrt(list_dot_product(q.emb, q.emb))
                      * sqrt(list_dot_product(c.emb, c.emb))) AS cos
            FROM v q, v c
            WHERE q.vec_id < 5 AND q.vec_id != c.vec_id
        )
        SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM sims
        ) WHERE rank <= 10
        ORDER BY query_id, rank
    """,
    "q19_ngram_overlap_pairs": """
        WITH t AS (
            SELECT doc_id, lang,
                   list_distinct(string_split_regex(trim(text), '\\s+')) AS toks
            FROM documents
            WHERE doc_id < 60
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               len(list_intersect(a.toks, b.toks)) AS inter_size,
               len(list_distinct(list_concat(a.toks, b.toks))) AS union_size
        FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks)) >= 20
        ORDER BY a_id, b_id
    """,
    # q20_extract_flagship: non-SQL-expressible (image kernel) -> pinned
    # oracle in generated_oracles.py, merged in through ORACLE_SQL_2
    **ORACLE_SQL_2,
}
