"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full dedup (exact + LSH + substring ->
connected components) over the sf0.001 ``documents`` table.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
family from SURVEY.md section 2, expressed over the driver's testdata
tables; DuckDB-dialect oracles included for every SQL-expressible
operator. Engine-kernel entries (MinHash signatures, LSH, transcript
pipeline) are rows-only where DuckDB cannot express them; the substring
detector DOES carry an exact O(n^2) SQL oracle — its sampled-gram +
suffix-array dataflow is guaranteed to find exactly the true containments.

Column names are aliased identically on both sides; money-ish aggregates
go through decimal casts (not double sums) so value hashes are exact;
float similarity scores are rounded on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF_DEFAULT = "/root/testdata/sf0.001"

_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _register(spark: SparkSession, sf_dir: str, tables: list[str]) -> None:
    """Register testdata tables as temp views.

    Scale-adaptive parallelism floor (round 8): the local testdata tables
    are single parquet files with one row group, so the scan — and every
    operator whole-stage-fused onto it — runs as ONE task regardless of
    spark.sql.files.maxPartitionBytes (splits cannot cut inside a row
    group). Only the text corpus (``documents``) gets a round-robin
    exchange up to the session parallelism: its queries fan each row out
    through regex-normalize + n-gram explodes (hundreds of derived rows per
    doc, measured seconds of single-core work), so the exchange pays for
    itself many times over, while the numeric fact/dim tables' scan-light
    aggregations are cheaper single-task than behind an extra exchange at
    local sizes. An already-wide production corpus skips the exchange.
    Placement only — query results are unchanged.
    """
    floor = spark.sparkContext.defaultParallelism
    for t in tables:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        if t == "documents" and df.rdd.getNumPartitions() < floor:
            df = df.repartition(floor)
        df.createOrReplaceTempView(t)


# --------------------------------------------------------------------------
# Normalization shared snippets (F1 chain — SURVEY.md 2.7 F1; the exact
# /root/reference/src/duplicates.ts:150-156 regex chain in two dialects)
# --------------------------------------------------------------------------
_NORM_SPARK = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^\\\\w\\\\s]', ''), "
    "'\\\\s+', ' '))"
)
_NORM_DUCK = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^\\w\\s]', '', 'g'), "
    "'\\s+', ' ', 'g'))"
)


def _sql_pair(spark_sql: str, duck_sql: str, tables: list[str]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir, tables)
        return spark.sql(spark_sql)

    return run, duck_sql


_REGISTRY: dict[str, tuple] = {}


def _add(name: str, spark_sql: str, duck_sql: str, tables: list[str]) -> None:
    _REGISTRY[name] = _sql_pair(spark_sql, duck_sql, tables)


# ---- F1/F5: normalization + fingerprint (SURVEY 2.7) -----------------------
_add(
    "doc_normalize",
    f"""
    SELECT doc_id,
           {_NORM_SPARK.format(c='text')} AS norm_text,
           md5({_NORM_SPARK.format(c='text')}) AS fingerprint
    FROM documents
    """,
    f"""
    SELECT doc_id,
           {_NORM_DUCK.format(c='text')} AS norm_text,
           md5({_NORM_DUCK.format(c='text')}) AS fingerprint
    FROM documents
    """,
    ["documents"],
)

# ---- A1/A2 analogues: token / quality stats (training-data text analysis) --
_add(
    "doc_token_stats",
    f"""
    WITH n AS (SELECT doc_id, text, {_NORM_SPARK.format(c='text')} AS norm FROM documents)
    SELECT doc_id,
           size(split(norm, ' ')) AS n_tokens,
           length(norm) AS n_norm_chars,
           round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9_ ]', ''))) /
                 cast(length(text) AS double), 6) AS punct_ratio,
           round(cast(length(norm) - size(split(norm, ' ')) + 1 AS double) /
                 size(split(norm, ' ')), 6) AS avg_token_len
    FROM n WHERE length(norm) > 0
    """,
    f"""
    WITH n AS (SELECT doc_id, text, {_NORM_DUCK.format(c='text')} AS norm FROM documents)
    SELECT doc_id,
           len(string_split(norm, ' ')) AS n_tokens,
           length(norm) AS n_norm_chars,
           round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9_ ]', '', 'g'))) /
                 cast(length(text) AS double), 6) AS punct_ratio,
           round(cast(length(norm) - len(string_split(norm, ' ')) + 1 AS double) /
                 len(string_split(norm, ' ')), 6) AS avg_token_len
    FROM n WHERE length(norm) > 0
    """,
    ["documents"],
)

# ---- language-ID heuristic (stopword ratio) ---------------------------------
_STOP = "('the', 'a', 'of', 'and', 'in', 'to', 'is')"
_add(
    "doc_lang_stopword",
    f"""
    WITH n AS (SELECT doc_id, lang, {_NORM_SPARK.format(c='text')} AS norm FROM documents)
    SELECT doc_id, lang,
           round(size(filter(split(norm, ' '), t -> t IN {_STOP})) /
                 cast(size(split(norm, ' ')) AS double), 6) AS stop_ratio,
           size(filter(split(norm, ' '), t -> t IN {_STOP})) >=
             0.05 * size(split(norm, ' ')) AS looks_en
    FROM n WHERE length(norm) > 0
    """,
    f"""
    WITH n AS (SELECT doc_id, lang, {_NORM_DUCK.format(c='text')} AS norm FROM documents)
    SELECT doc_id, lang,
           round(len(list_filter(string_split(norm, ' '), t -> t IN {_STOP})) /
                 cast(len(string_split(norm, ' ')) AS double), 6) AS stop_ratio,
           len(list_filter(string_split(norm, ' '), t -> t IN {_STOP})) >=
             0.05 * len(string_split(norm, ' ')) AS looks_en
    FROM n WHERE length(norm) > 0
    """,
    ["documents"],
)

# ---- J3: exact-dup blocking self-join (content-hash equality) ---------------
_EXACT_PAIR_SPARK = f"""
    WITH f AS (SELECT doc_id, md5({_NORM_SPARK.format(c='text')}) AS fp FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp AS fingerprint
    FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
"""
_EXACT_PAIR_DUCK = f"""
    WITH f AS (SELECT doc_id, md5({_NORM_DUCK.format(c='text')}) AS fp FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp AS fingerprint
    FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
"""
# the driver testdata has no natural exact duplicates (the round-1 row was a
# vacuously-green 0-row check), so the query plants salted copies of every
# 50th doc INSIDE the query — reference behavior at duplicates.ts:97-108
# (the exact-match arm actually firing) — with the DuckDB oracle in lockstep
_EXACT_PLANTED = """
    WITH d AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0),
    f AS (SELECT doc_id, md5({norm}) AS fp FROM d)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp AS fingerprint
    FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
"""
_add(
    "doc_exact_dup_pairs",
    _EXACT_PLANTED.format(norm=_NORM_SPARK.format(c="text")),
    _EXACT_PLANTED.format(norm=_NORM_DUCK.format(c="text")),
    ["documents"],
)

# ---- A3/W2: argmax representative per fingerprint group --------------------
_add(
    "doc_dup_groups_argmax",
    f"""
    WITH f AS (SELECT doc_id, n_chars, md5({_NORM_SPARK.format(c='text')}) AS fp
               FROM documents),
    r AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY fp) AS group_size
          FROM f)
    SELECT fp AS fingerprint, doc_id AS representative, group_size
    FROM r WHERE rn = 1
    """,
    f"""
    WITH f AS (SELECT doc_id, n_chars, md5({_NORM_DUCK.format(c='text')}) AS fp
               FROM documents),
    r AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY fp) AS group_size
          FROM f)
    SELECT fp AS fingerprint, doc_id AS representative, group_size
    FROM r WHERE rn = 1
    """,
    ["documents"],
)

# ---- J4+J5: length-band blocking + Levenshtein verify (duration band +
#      fuzzy filename analogue, duplicates.ts:85-95, :110-140) ---------------
_LEV_SPARK = """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(substring(a.text, 1, 60), substring(b.text, 1, 60)) AS lev_dist,
           round(1.0D - levenshtein(substring(a.text, 1, 60), substring(b.text, 1, 60)) / 60.0D, 6) AS lev_sim
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 2 AND a.doc_id < b.doc_id
"""
_LEV_DUCK = """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(substring(a.text, 1, 60), substring(b.text, 1, 60)) AS lev_dist,
           round(1.0 - levenshtein(substring(a.text, 1, 60), substring(b.text, 1, 60)) / 60.0, 6) AS lev_sim
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 2 AND a.doc_id < b.doc_id
"""
_add("doc_blocking_lev_pairs", _LEV_SPARK, _LEV_DUCK, ["documents"])

# ---- n-gram Jaccard near-dup pairs (training-data dedup op) -----------------
_add(
    "doc_ngram_jaccard_pairs",
    f"""
    WITH n AS (SELECT doc_id, split({_NORM_SPARK.format(c='text')}, ' ') AS t FROM documents),
    g AS (SELECT doc_id, explode(array_distinct(transform(sequence(0, size(t) - 3),
                 i -> concat_ws(' ', slice(t, i + 1, 3))))) AS gram
          FROM n WHERE size(t) >= 3),
    sz AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
              FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           round(n_inter / cast(sa.n_grams + sb.n_grams - n_inter AS double), 6) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    WHERE n_inter / cast(sa.n_grams + sb.n_grams - n_inter AS double) >= 0.05
    """,
    f"""
    WITH n AS (SELECT doc_id, string_split({_NORM_DUCK.format(c='text')}, ' ') AS t FROM documents),
    g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
                 i -> array_to_string(t[i:i+2], ' ')))) AS gram
          FROM n WHERE len(t) >= 3),
    sz AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
              FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           round(n_inter / cast(sa.n_grams + sb.n_grams - n_inter AS double), 6) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    WHERE n_inter / cast(sa.n_grams + sb.n_grams - n_inter AS double) >= 0.05
    """,
    ["documents"],
)

# ---- decontamination: training split vs held-out split (LLM-pipeline op) ----
# Deterministic split (doc_id % 10 == 0 -> eval, else train); a train doc is
# contaminated iff its 3-gram Jaccard against ANY eval doc clears the same
# 0.05 gate the near-dup query uses. Cross-split variant of the blocked
# n-gram join — shared grams block the pair space, so no eval x train
# cartesian ever forms (the at-scale requirement).
_add(
    "doc_decontamination",
    f"""
    WITH n AS (SELECT doc_id, split({_NORM_SPARK.format(c='text')}, ' ') AS t FROM documents),
    g AS (SELECT doc_id, explode(array_distinct(transform(sequence(0, size(t) - 3),
                 i -> concat_ws(' ', slice(t, i + 1, 3))))) AS gram
          FROM n WHERE size(t) >= 3),
    sz AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
    inter AS (SELECT e.doc_id AS eval_id, tr.doc_id AS train_id, count(*) AS n_inter
              FROM (SELECT * FROM g WHERE doc_id % 10 = 0) e
              JOIN (SELECT * FROM g WHERE doc_id % 10 <> 0) tr ON e.gram = tr.gram
              GROUP BY e.doc_id, tr.doc_id)
    SELECT eval_id, train_id,
           round(n_inter / cast(se.n_grams + st.n_grams - n_inter AS double), 6) AS jaccard
    FROM inter
    JOIN sz se ON se.doc_id = eval_id
    JOIN sz st ON st.doc_id = train_id
    WHERE n_inter / cast(se.n_grams + st.n_grams - n_inter AS double) >= 0.05
    """,
    f"""
    WITH n AS (SELECT doc_id, string_split({_NORM_DUCK.format(c='text')}, ' ') AS t FROM documents),
    g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
                 i -> array_to_string(t[i:i+2], ' ')))) AS gram
          FROM n WHERE len(t) >= 3),
    sz AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
    inter AS (SELECT e.doc_id AS eval_id, tr.doc_id AS train_id, count(*) AS n_inter
              FROM (SELECT * FROM g WHERE doc_id % 10 = 0) e
              JOIN (SELECT * FROM g WHERE doc_id % 10 <> 0) tr ON e.gram = tr.gram
              GROUP BY e.doc_id, tr.doc_id)
    SELECT eval_id, train_id,
           round(n_inter / cast(se.n_grams + st.n_grams - n_inter AS double), 6) AS jaccard
    FROM inter
    JOIN sz se ON se.doc_id = eval_id
    JOIN sz st ON st.doc_id = train_id
    WHERE n_inter / cast(se.n_grams + st.n_grams - n_inter AS double) >= 0.05
    """,
    ["documents"],
)

# ---- SO1: union of pair memberships (index.ts:435-441) ----------------------
_add(
    "doc_pair_members",
    f"""
    WITH p AS ({_EXACT_PAIR_SPARK}), l AS ({_LEV_SPARK})
    SELECT DISTINCT doc_id FROM (
      SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b FROM p
      UNION ALL SELECT doc_a FROM l WHERE lev_sim >= 0.2
      UNION ALL SELECT doc_b FROM l WHERE lev_sim >= 0.2
    )
    """,
    f"""
    WITH p AS ({_EXACT_PAIR_DUCK}), l AS ({_LEV_DUCK})
    SELECT DISTINCT doc_id FROM (
      SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b FROM p
      UNION ALL SELECT doc_a FROM l WHERE lev_sim >= 0.2
      UNION ALL SELECT doc_b FROM l WHERE lev_sim >= 0.2
    )
    """,
    ["documents"],
)

# ---- S7/J8: incremental-scan anti-join resume (index.ts:186) ----------------
_add(
    "doc_resume_anti_join",
    """
    SELECT d.lang, count(*) AS n_pending
    FROM documents d LEFT ANTI JOIN (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) done
      ON d.doc_id = done.doc_id
    GROUP BY d.lang
    """,
    """
    SELECT d.lang, count(*) AS n_pending
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 3 = 0)
    GROUP BY d.lang
    """,
    ["documents"],
)

# ---- A9: multi-membership HAVING (find-conflicts.ts:91-96) ------------------
_add(
    "source_multilang_having",
    """
    SELECT source, count(DISTINCT lang) AS n_langs
    FROM documents GROUP BY source HAVING count(DISTINCT lang) > 1
    """,
    """
    SELECT source, count(DISTINCT lang) AS n_langs
    FROM documents GROUP BY source HAVING count(DISTINCT lang) > 1
    """,
    ["documents"],
)

# ---- S5: NDJSON keyed-map last-write-wins (index.ts:112-132) ----------------
_add(
    "events_last_write_wins",
    """
    WITH r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
    SELECT user_id, event_id, event_type, value
    FROM r WHERE rn = 1
    """,
    """
    WITH r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
    SELECT user_id, event_id, event_type, value
    FROM r WHERE rn = 1
    """,
    ["events"],
)

# ---- W: sessionization (gap > 30 min) ---------------------------------------
_add(
    "events_sessionize",
    """
    WITH w AS (SELECT user_id, ts, event_id,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
               FROM events),
    s AS (SELECT user_id,
                 sum(CASE WHEN prev_ts IS NULL
                          OR (unix_timestamp(ts) - unix_timestamp(prev_ts)) > 1800
                          THEN 1 ELSE 0 END) AS n_sessions_raw,
                 count(*) AS n_events
          FROM w GROUP BY user_id)
    SELECT user_id, cast(n_sessions_raw AS bigint) AS n_sessions, n_events FROM s
    """,
    """
    WITH w AS (SELECT user_id, ts, event_id,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
               FROM events),
    s AS (SELECT user_id,
                 sum(CASE WHEN prev_ts IS NULL
                          OR (epoch(ts) - epoch(prev_ts)) > 1800
                          THEN 1 ELSE 0 END) AS n_sessions_raw,
                 count(*) AS n_events
          FROM w GROUP BY user_id)
    SELECT user_id, cast(n_sessions_raw AS bigint) AS n_sessions, n_events FROM s
    """,
    ["events"],
)

# ---- W5: MRU truncation (cache.ts:59-67: keep 20 most recent) ---------------
_add(
    "events_mru20",
    """
    WITH r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
    SELECT user_id, count(*) AS n_recent, cast(sum(cast(value AS decimal(18,2))) AS double) AS recent_value
    FROM r WHERE rn <= 20 GROUP BY user_id
    """,
    """
    WITH r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
    SELECT user_id, count(*) AS n_recent, cast(sum(cast(value AS decimal(18,2))) AS double) AS recent_value
    FROM r WHERE rn <= 20 GROUP BY user_id
    """,
    ["events"],
)

# ---- A5/A12 rollup ----------------------------------------------------------
_add(
    "events_type_rollup",
    """
    SELECT event_type, count(*) AS n,
           cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value,
           round(avg(cast(value AS double)), 4) AS avg_value
    FROM events GROUP BY event_type
    """,
    """
    SELECT event_type, count(*) AS n,
           cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value,
           round(avg(cast(value AS double)), 4) AS avg_value
    FROM events GROUP BY event_type
    """,
    ["events"],
)

# ---- TPC-H Q1-style pricing summary (generic agg coverage) ------------------
_Q1 = """
    SELECT l_returnflag, l_linestatus,
           cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
           cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS sum_base_price,
           cast(sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2)))) AS double) AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""
_add("tpch_q1_pricing", _Q1, _Q1, ["lineitem"])

# ---- join + agg + top-N with total order ------------------------------------
_TOPCUST = """
    SELECT c.c_custkey, c.c_name,
           cast(sum(cast(o.o_totalprice AS decimal(18,2))) AS double) AS revenue,
           count(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 10
"""
_add("top10_customers", _TOPCUST, _TOPCUST, ["orders", "customer"])

# ---- W2-ish ranking ----------------------------------------------------------
_TOP3 = """
    WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_custkey
                                         ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
               FROM orders)
    SELECT o_custkey, o_orderkey, o_totalprice, rnk
    FROM r WHERE rnk <= 3
"""
_add("orders_top3_per_customer", _TOP3, _TOP3, ["orders"])

# ---- multi-join rollup --------------------------------------------------------
_BRAND = """
    SELECT p.p_brand, count(*) AS n_items,
           cast(sum(cast(l.l_quantity AS decimal(18,2))) AS double) AS total_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
"""
_add("brand_lineitem_rollup", _BRAND, _BRAND, ["lineitem", "part"])

# ---- ANN: brute-force cosine top-k vs query vector (similarity search) ------
_add(
    "ann_cosine_top10",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    s AS (SELECT e.vec_id, e.label,
                 round(aggregate(zip_with(e.embedding, q.qv, (x, y) -> cast(x AS double) * cast(y AS double)),
                                 0D, (acc, v) -> acc + v) /
                       (sqrt(aggregate(transform(e.embedding, x -> cast(x AS double) * cast(x AS double)),
                                       0D, (acc, v) -> acc + v)) *
                        sqrt(aggregate(transform(q.qv, x -> cast(x AS double) * cast(x AS double)),
                                       0D, (acc, v) -> acc + v))), 4) AS cosine
          FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0)
    SELECT vec_id, label, cosine FROM s
    ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    s AS (SELECT e.vec_id, e.label,
                 round(list_dot_product(list_transform(e.embedding, x -> cast(x AS double)),
                                        list_transform(q.qv, x -> cast(x AS double))) /
                       (sqrt(list_dot_product(list_transform(e.embedding, x -> cast(x AS double)),
                                              list_transform(e.embedding, x -> cast(x AS double)))) *
                        sqrt(list_dot_product(list_transform(q.qv, x -> cast(x AS double)),
                                              list_transform(q.qv, x -> cast(x AS double))))), 4) AS cosine
          FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0)
    SELECT vec_id, label, cosine FROM s
    ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
    ["embeddings"],
)

# ---- kNN join: top-5 neighbors for each of the first 5 vectors --------------
_add(
    "knn_join_5x5",
    """
    WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
    s AS (SELECT qs.qid, e.vec_id,
                 round(aggregate(zip_with(e.embedding, qs.qv, (x, y) -> cast(x AS double) * cast(y AS double)),
                                 0D, (acc, v) -> acc + v) /
                       (sqrt(aggregate(transform(e.embedding, x -> cast(x AS double) * cast(x AS double)),
                                       0D, (acc, v) -> acc + v)) *
                        sqrt(aggregate(transform(qs.qv, x -> cast(x AS double) * cast(x AS double)),
                                       0D, (acc, v) -> acc + v))), 4) AS cosine
          FROM embeddings e CROSS JOIN qs WHERE e.vec_id <> qs.qid),
    r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rn FROM s)
    SELECT qid, vec_id AS neighbor, cosine, rn AS rank FROM r WHERE rn <= 5
    """,
    """
    WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
    s AS (SELECT qs.qid, e.vec_id,
                 round(list_dot_product(list_transform(e.embedding, x -> cast(x AS double)),
                                        list_transform(qs.qv, x -> cast(x AS double))) /
                       (sqrt(list_dot_product(list_transform(e.embedding, x -> cast(x AS double)),
                                              list_transform(e.embedding, x -> cast(x AS double)))) *
                        sqrt(list_dot_product(list_transform(qs.qv, x -> cast(x AS double)),
                                              list_transform(qs.qv, x -> cast(x AS double))))), 4) AS cosine
          FROM embeddings e CROSS JOIN qs WHERE e.vec_id <> qs.qid),
    r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rn FROM s)
    SELECT qid, vec_id AS neighbor, cosine, rn AS rank FROM r WHERE rn <= 5
    """,
    ["embeddings"],
)


# ---- BPE-ish token counting (training-data token budget estimation) --------
# whitespace tokens vs a byte-pair-ish lexer (letter runs / digit runs /
# single punctuation) — the ratio approximates tokenizer inflation
_add(
    "doc_bpe_token_stats",
    """
    SELECT doc_id,
           size(split(trim(text), '\\\\s+')) AS ws_tokens,
           size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)) AS bpe_ish_tokens,
           round(size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)) /
                 cast(size(split(trim(text), '\\\\s+')) AS double), 6) AS inflation
    FROM documents WHERE length(trim(text)) > 0
    """,
    """
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_ish_tokens,
           round(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) /
                 cast(len(string_split_regex(trim(text), '\\s+')) AS double), 6) AS inflation
    FROM documents WHERE length(trim(text)) > 0
    """,
    ["documents"],
)

# ---- P7: suspicious-pattern regex QA (find-suspicious.ts:27-58) ------------
_add(
    "doc_regex_filter",
    """
    SELECT lang, count(*) AS n_suspicious
    FROM documents
    WHERE text RLIKE '(key|hash) (agg|join)'
    GROUP BY lang
    """,
    """
    SELECT lang, count(*) AS n_suspicious
    FROM documents
    WHERE regexp_matches(text, '(key|hash) (agg|join)')
    GROUP BY lang
    """,
    ["documents"],
)

# ---- A6: dedup-savings rollup (review-summary.ts:21-66 analogue) ------------
_NGRAM_SPARK = None  # defined above inside the registry; rebuilt here via WITH


def _ngram_with(spark_side: bool) -> str:
    norm = _NORM_SPARK if spark_side else _NORM_DUCK
    if spark_side:
        g = (
            "SELECT doc_id, explode(array_distinct(transform(sequence(0, size(t) - 3), "
            "i -> concat_ws(' ', slice(t, i + 1, 3))))) AS gram FROM n WHERE size(t) >= 3"
        )
        t = f"SELECT doc_id, split({norm.format(c='text')}, ' ') AS t FROM documents"
    else:
        g = (
            "SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1), "
            "i -> array_to_string(t[i:i+2], ' ')))) AS gram FROM n WHERE len(t) >= 3"
        )
        t = f"SELECT doc_id, string_split({norm.format(c='text')}, ' ') AS t FROM documents"
    return f"""
    WITH n AS ({t}),
    g AS ({g}),
    sz AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
              FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
    pr AS (SELECT doc_a, doc_b,
                  n_inter / cast(sa.n_grams + sb.n_grams - n_inter AS double) AS jac
           FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
           WHERE n_inter / cast(sa.n_grams + sb.n_grams - n_inter AS double) >= 0.05)
    """


_add(
    "dedup_savings_by_lang",
    _ngram_with(True)
    + """
    SELECT da.lang, count(*) AS n_pairs,
           cast(sum(least(da.n_chars, db.n_chars)) AS bigint) AS chars_saved
    FROM pr JOIN documents da ON da.doc_id = pr.doc_a
            JOIN documents db ON db.doc_id = pr.doc_b
    GROUP BY da.lang
    """,
    _ngram_with(False)
    + """
    SELECT da.lang, count(*) AS n_pairs,
           cast(sum(least(da.n_chars, db.n_chars)) AS bigint) AS chars_saved
    FROM pr JOIN documents da ON da.doc_id = pr.doc_a
            JOIN documents db ON db.doc_id = pr.doc_b
    GROUP BY da.lang
    """,
    ["documents"],
)

# ---- W1: global order by score desc with total order (duplicates.ts:41) ----
_add(
    "top_ngram_pairs",
    _ngram_with(True)
    + """
    SELECT doc_a, doc_b, round(jac, 6) AS jaccard
    FROM pr ORDER BY jac DESC, doc_a ASC, doc_b ASC LIMIT 20
    """,
    _ngram_with(False)
    + """
    SELECT doc_a, doc_b, round(jac, 6) AS jaccard
    FROM pr ORDER BY jac DESC, doc_a ASC, doc_b ASC LIMIT 20
    """,
    ["documents"],
)

# ---- J7/A8: keep/delete conflict detection over synthesized decisions ------
# (find-conflicts.ts:24-59: keep = smaller doc of each pair, delete = larger;
#  a doc kept by one pair and deleted by another is a conflict -> resolved by
#  connected components in the engine; this query IS the detector)
_add(
    "pair_conflicts",
    _ngram_with(True)
    + """
    , act AS (
      SELECT doc_a AS doc_id, 'keep' AS action FROM pr
      UNION ALL SELECT doc_b, 'delete' FROM pr)
    SELECT doc_id, count(DISTINCT action) AS n_actions, count(*) AS n_decisions
    FROM act GROUP BY doc_id HAVING count(DISTINCT action) > 1
    """,
    _ngram_with(False)
    + """
    , act AS (
      SELECT doc_a AS doc_id, 'keep' AS action FROM pr
      UNION ALL SELECT doc_b, 'delete' FROM pr)
    SELECT doc_id, count(DISTINCT action) AS n_actions, count(*) AS n_decisions
    FROM act GROUP BY doc_id HAVING count(DISTINCT action) > 1
    """,
    ["documents"],
)

# ---- SO3: EXCEPT (resolve-conflicts.ts:271) ---------------------------------
_add(
    "doc_except_pair_members",
    f"""
    SELECT doc_id FROM documents
    EXCEPT
    SELECT doc_a AS doc_id FROM ({_LEV_SPARK}) WHERE lev_sim >= 0.2
    EXCEPT
    SELECT doc_b AS doc_id FROM ({_LEV_SPARK}) WHERE lev_sim >= 0.2
    """,
    f"""
    SELECT doc_id FROM documents
    EXCEPT
    SELECT doc_a AS doc_id FROM ({_LEV_DUCK}) WHERE lev_sim >= 0.2
    EXCEPT
    SELECT doc_b AS doc_id FROM ({_LEV_DUCK}) WHERE lev_sim >= 0.2
    """,
    ["documents"],
)

# ---- S12: upsert / MERGE last-write-wins (index.ts:576-592) -----------------
_UPSERT = """
    WITH updates AS (
      SELECT doc_id, 'UPDATED' AS text, lang, source, n_chars, 2 AS version
      FROM documents WHERE doc_id % 10 = 0),
    unioned AS (
      SELECT doc_id, text, lang, version FROM updates
      UNION ALL
      SELECT doc_id, text, lang, 1 AS version FROM documents),
    r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
          FROM unioned)
    SELECT doc_id, substring(text, 1, 12) AS text_head, lang, version
    FROM r WHERE rn = 1
"""
_add("doc_upsert_lww", _UPSERT, _UPSERT, ["documents"])

# ---- J6: pair hydration (duplicates.ts:205-210) -----------------------------
_add(
    "pair_hydration",
    f"""
    SELECT p.doc_a, p.doc_b, da.lang AS lang_a, db.lang AS lang_b,
           da.n_chars AS chars_a, db.n_chars AS chars_b, p.lev_sim
    FROM ({_LEV_SPARK}) p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    WHERE p.lev_sim >= 0.2
    """,
    f"""
    SELECT p.doc_a, p.doc_b, da.lang AS lang_a, db.lang AS lang_b,
           da.n_chars AS chars_a, db.n_chars AS chars_b, p.lev_sim
    FROM ({_LEV_DUCK}) p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    WHERE p.lev_sim >= 0.2
    """,
    ["documents"],
)


# --------------------------------------------------------------------------
# Engine-native entries (kernel/iterative dataflow)
# --------------------------------------------------------------------------

def _q_doc_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring containment via sampled grams + suffix-array verify —
    finds exactly the true containments, so the O(n^2) SQL oracle matches."""
    from pyspark.sql import functions as F

    from transcript_dedup.config import DedupConfig
    from transcript_dedup.detectors.substring import substring_candidates
    from transcript_dedup.detectors.verify import resolve_pair_ids
    from transcript_dedup.documents import signed_records

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # persist ONCE: the substring detector references conv ~6x (gram
    # explode, tiny take, probe scan, two hydration sides, id resolution) —
    # unmaterialized, each reference re-runs the signature kernel
    # (measured standalone 7.1 -> 3.8-4.3 s at sf0.1). When an identical
    # conv subtree is already cached (e.g. doc_dedup_components ran first
    # in the same session), CacheManager dedups this persist onto the
    # existing entry, so the suite path keeps its free reuse.
    conv = signed_records(docs, DedupConfig()).persist()
    # detectors emit cid-keyed pairs; map back to the zero-padded doc ids
    # (string order == numeric order, matching the oracle's least/greatest)
    pairs = resolve_pair_ids(substring_candidates(conv, DedupConfig()), conv)
    return pairs.select(
        F.col("conv_a").cast("bigint").alias("doc_a"),
        F.col("conv_b").cast("bigint").alias("doc_b"),
    )


_SUBSTR_ORACLE = f"""
    WITH n AS (SELECT doc_id, {_NORM_DUCK.format(c='text')} AS norm FROM documents)
    SELECT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
    FROM n a JOIN n b
      ON length(a.norm) < length(b.norm) AND length(a.norm) > 0
     AND position(a.norm IN b.norm) > 0
"""


# DuckDB oracle for the flagship: recursive-CTE transitive closure
# (SURVEY.md section 5.2(3)) over the SQL-expressible edge arms — exact
# (normalized-text equality) and substring containment. The engine's third
# arm (LSH + est-Jaccard/Hamming verify) is not SQL-expressible; on the
# driver testdata it contributes no cross-component edge beyond the first
# two arms (asserted by tests/test_oracle_parity.py at sf0.01, and by this
# very hash check every round), so the closures — and therefore the
# min-member cluster ids — agree exactly.
_COMPONENTS_ORACLE = f"""
    WITH n AS (SELECT doc_id, {_NORM_DUCK.format(c='text')} AS norm FROM documents),
    ex AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM n a JOIN n b
           ON a.norm = b.norm AND length(a.norm) > 0 AND a.doc_id <> b.doc_id),
    ss AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM n a JOIN n b
           ON length(a.norm) > 0 AND length(a.norm) < length(b.norm)
          AND position(a.norm IN b.norm) > 0),
    edges AS (SELECT src, dst FROM ex UNION SELECT src, dst FROM ss
              UNION SELECT dst, src FROM ss),
    rec AS (
      WITH RECURSIVE reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
      SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
    SELECT doc_id, cluster_id FROM rec
"""


def _q_doc_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full three-detector dedup + connected components over the
    documents table; every doc gets a cluster id (own id if unique)."""
    from pyspark.sql import functions as F

    from transcript_dedup.config import DedupConfig
    from transcript_dedup.documents import signed_records
    from transcript_dedup.pipeline import run_dedup_dataframes

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    conv = signed_records(docs, DedupConfig())
    res = run_dedup_dataframes(conv)
    comp = res["components"]
    # the pipeline's persisted handle: joining against it reuses the
    # populated cache instead of re-running the signature kernel for this
    # one projection
    conv = res["conversations"]
    out = (
        conv.select("conv_id")
        .join(comp, "conv_id", "left")
        .select(
            F.col("conv_id").cast("bigint").alias("doc_id"),
            F.coalesce(F.col("component_id"), F.col("conv_id"))
            .cast("bigint")
            .alias("cluster_id"),
        )
    )
    return out


def _q_transcript_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end transcript dedup on the deterministic generated corpus
    (seed=42): full three-detector decisions summary. Oracle-checked since
    round 4: the kernel-computed MinHash/SimHash signatures are exported to
    parquet once (bit-identical on both sides — the documented kernel-sharing
    invariant, pinned by tests/test_signatures.py Spark==Python parity), and
    DuckDB independently reproduces the LSH banded collision join (list
    slices), est-Jaccard (position-equality fraction), the SimHash Hamming
    ball (bit_count(xor)), the exact/substring arms, connected components
    (recursive CTE) and the rule cascade."""
    from pyspark.sql import functions as F

    from transcript_dedup.config import DedupConfig
    from transcript_dedup.pipeline import run_dedup_dataframes
    from transcript_dedup.reconstruct import reconstruct_conversations
    from transcript_dedup.signatures import add_signatures

    turns = spark.read.parquet(_ensure_corpus_export())
    conv = add_signatures(reconstruct_conversations(turns), DedupConfig())
    res = run_dedup_dataframes(conv)
    return (
        res["decisions"]
        .select(
            "group_id",
            F.concat_ws(",", "keep").alias("keep"),
            F.concat_ws(",", "delete").alias("delete"),
            "rule_applied",
            "decision_type",
            F.col("min_confidence").cast("long").alias("min_confidence"),
            F.col("size").cast("long").alias("size"),
        )
        .orderBy("group_id")
    )


def _q_region_broadcast_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 memo-cache analogue (reference cache.ts memoized lookups): a small
    dimension (region x nation) is explicitly broadcast — shipped once to
    every executor like a memo table — and probed by the big fact join.
    tests/test_metadata_fixer.py asserts the plan contains
    BroadcastHashJoin (no shuffle of the fact side for the dim join)."""
    from pyspark.sql import functions as F

    _register(spark, sf_dir, ["region", "nation", "customer", "orders"])
    dim = (
        spark.table("nation")
        .join(spark.table("region"), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey"), F.col("r_name"))
    )
    fact = spark.table("orders").join(
        spark.table("customer"), F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        fact.join(F.broadcast(dim), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


_REGION_ROLLUP_ORACLE = """
    SELECT r.r_name, count(*) AS n_orders,
           cast(sum(cast(o.o_totalprice AS decimal(18,2))) AS double) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
"""


def _q_doc_metadata_fixer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata repair stage (metadata-fixer.ts:29-178 + inference.ts:34-47
    analogue): the testdata has no missing metadata, so the query blanks
    lang for every 7th doc and nulls source for every 11th INSIDE the query
    (oracle in lockstep), then repairs from content: stopword-profile
    language inference + leading-token source label, confidence medium/low,
    S11 skip flag for uninferable fields."""
    from pyspark.sql import functions as F

    from transcript_dedup.metadata_fixer import fix_document_metadata

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.select(
        "doc_id",
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.lit("")).otherwise(F.col("lang")).alias("lang"),
        F.when(F.col("doc_id") % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("source"))
        .alias("source"),
    )
    return fix_document_metadata(planted).select(
        "doc_id", "lang", "source", "fixed_fields", "confidence", "inference_source", "skipped"
    )


_STOP_DUCK = "('the', 'a', 'of', 'and', 'in', 'to', 'is')"
_METADATA_FIXER_ORACLE = f"""
    WITH planted AS (
      SELECT doc_id, text,
             CASE WHEN doc_id % 7 = 0 THEN '' ELSE lang END AS lang,
             CASE WHEN doc_id % 11 = 0 THEN NULL ELSE source END AS source
      FROM documents),
    n AS (SELECT *, {_NORM_DUCK.format(c='text')} AS nm FROM planted),
    calc AS (
      SELECT doc_id, lang, source,
             (lang IS NULL OR trim(lang) = '') AS miss_lang,
             (source IS NULL OR trim(source) = '') AS miss_source,
             CASE WHEN len(list_filter(string_split(nm, ' '), t -> t IN {_STOP_DUCK}))
                       >= 0.05 * len(string_split(nm, ' '))
                  THEN 'en' END AS inf_lang,
             CASE WHEN length(string_split(nm, ' ')[1]) >= 3
                  THEN 'inferred:' || string_split(nm, ' ')[1] END AS inf_source
      FROM n),
    fixed AS (
      SELECT doc_id,
             CASE WHEN miss_lang THEN inf_lang ELSE lang END AS lang,
             CASE WHEN miss_source THEN inf_source ELSE source END AS source,
             coalesce(array_to_string(list_filter(
               [CASE WHEN miss_lang AND inf_lang IS NOT NULL THEN 'lang' END,
                CASE WHEN miss_source AND inf_source IS NOT NULL THEN 'source' END],
               x -> x IS NOT NULL), ','), '') AS fixed_fields,
             (CAST(miss_lang AS int) + CAST(miss_source AS int)) AS n_missing,
             (CAST(miss_lang AND inf_lang IS NOT NULL AS int) +
              CAST(miss_source AND inf_source IS NOT NULL AS int)) AS n_fixed
      FROM calc)
    SELECT doc_id, lang, source, fixed_fields,
           CASE WHEN n_missing = 0 THEN ''
                WHEN n_fixed = n_missing THEN 'medium'
                ELSE 'low' END AS confidence,
           CASE WHEN n_fixed > 0 THEN 'parsed-from-content' ELSE '' END AS inference_source,
           n_fixed < n_missing AS skipped
    FROM fixed
"""


def _q_emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via sign-LSH buckets + exact verify.

    The testdata's max natural pairwise cosine is ~0.51, which made the
    round-1 check vacuously green (0 rows on both sides) — so the query
    plants colinear copies (every 20th vector scaled by 2: cosine exactly
    1.0, scale-invariant) inside the query, with the exhaustive O(n^2)
    DuckDB oracle planting the identical copies. The planted pairs MUST be
    found (same sign pattern in every LSH table) and nothing else may be."""
    from pyspark.sql import functions as F

    from transcript_dedup.embeddings import embedding_near_dup_pairs

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planted = vecs.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0).cast("float")).alias(
            "embedding"
        ),
        "label",
    )
    return embedding_near_dup_pairs(
        vecs.unionByName(planted), threshold=0.9
    ).selectExpr("id_a", "id_b", "cosine")


_EMB_DUP_ORACLE = """
    WITH u AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT)) AS embedding
      FROM embeddings WHERE vec_id % 20 = 0),
    n AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
          FROM u)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
             AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9
"""


def _q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate top-k. Oracle-checked since round 4: the seeded
    hyperplanes are deterministic given (dim, shape, seed) — the same
    property that lets every Arrow worker regenerate them — so the oracle
    SQL embeds the 60x64 plane constants and DuckDB reproduces the sign
    buckets, the per-table bucket join, exact cosine, and top-k
    independently."""
    from transcript_dedup.embeddings import ann_lsh_topk

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = vecs.filter("vec_id < 5")
    return ann_lsh_topk(vecs, queries, k=5, n_planes=6, n_tables=10)


def _ann_lsh_oracle(dim: int = 64, n_planes: int = 6, n_tables: int = 10, seed: int = 7) -> str:
    """DuckDB oracle for `ann_lsh_topk`: embeds the seeded hyperplanes as
    literals (they are a pure function of (dim, n_planes, n_tables, seed) —
    embeddings.hyperplane_planes) and recomputes sign-pattern buckets with
    list_dot_product, candidate bucket collisions per table, exact cosine
    and row_number top-5 — the whole generate-then-verify path in SQL."""
    from transcript_dedup.embeddings import hyperplane_planes

    planes = hyperplane_planes(dim, n_planes, n_tables, seed)
    rows = []
    for idx in range(planes.shape[0]):
        vec = ",".join(repr(float(x)) for x in planes[idx])
        rows.append(f"({idx // n_planes},{idx % n_planes},[{vec}])")
    values = ",\n      ".join(rows)
    return f"""
    WITH planes(tid, pid, pv) AS (VALUES
      {values}),
    emb AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
            FROM embeddings),
    bk AS (SELECT e.vec_id, p.tid,
                  sum(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                           THEN CAST(1 AS BIGINT) << p.pid ELSE 0 END) AS bucket
           FROM emb e CROSS JOIN planes p GROUP BY e.vec_id, p.tid),
    qb AS (SELECT vec_id AS qid, tid, bucket FROM bk WHERE vec_id < 5),
    cand AS (SELECT DISTINCT q.qid, b.vec_id AS neighbor
             FROM qb q JOIN bk b ON q.tid = b.tid AND q.bucket = b.bucket
                     AND b.vec_id <> q.qid),
    s AS (SELECT c.qid, c.neighbor,
                 list_dot_product(ev.v, eq.v) /
                 (sqrt(list_dot_product(ev.v, ev.v)) * sqrt(list_dot_product(eq.v, eq.v)))
                   AS cosine
          FROM cand c
          JOIN emb ev ON c.neighbor = ev.vec_id
          JOIN emb eq ON c.qid = eq.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, neighbor ASC) AS rn
          FROM s)
    SELECT qid, neighbor, round(cosine, 6) AS cosine, rn AS rank
    FROM r WHERE rn <= 5
"""


#: single source of truth for the partial-probe IVF entry: _q_ann_ivf_topk,
#: _ivf_export_paths (oracle cache key) and _ensure_ivf_export (numpy-mirror
#: artifact computation) ALL consume this dict, so editing a parameter here
#: re-keys the export and keeps engine and oracle in lockstep — previously
#: the literals were duplicated across the three sites and a one-sided edit
#: surfaced only as an opaque hash mismatch (ADVICE round 5).
_IVF_PARAMS = {
    "n_clusters": 8,
    "n_probe": 4,
    "k": 5,
    "seed": 11,
    "n_iters": 5,
    "query_max_vec_id": 5,  # query set = vec_id < this
}


def _q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer + inverted-list
    probe + exact cosine verify. Hash-matched against a DuckDB oracle that
    consumes the exported quantizer artifacts (_ann_ivf_topk_oracle) — the
    fixed-point k-means update makes the quantizer bit-reproducible, so the
    export is exactly what this query computes; tests additionally pin
    full-probe == brute force and a partial-probe recall floor. All
    parameters come from _IVF_PARAMS (shared with the oracle export)."""
    from pyspark.sql import functions as F

    from transcript_dedup.embeddings import ann_ivf_topk

    p = _IVF_PARAMS
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = vecs.filter(F.col("vec_id") < p["query_max_vec_id"])
    return ann_ivf_topk(
        vecs,
        queries,
        k=p["k"],
        n_clusters=p["n_clusters"],
        n_probe=p["n_probe"],
        seed=p["seed"],
        n_iters=p["n_iters"],
    )


def _q_ann_ivf_fullprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with n_probe == n_clusters: every inverted list is probed,
    so the result provably equals brute-force cosine top-k
    (tests/test_embeddings.py pins this row-for-row) — and brute force IS
    DuckDB-expressible, giving the IVF machinery (quantizer, inverted-list
    probe join, exact verify) a hash-matched oracle row. The partial-probe
    variant above is also hash-matched since round 5 via the exported
    quantizer artifacts (_ann_ivf_topk_oracle); this full-probe row remains
    as the independent brute-force-equivalence check."""
    from transcript_dedup.embeddings import ann_ivf_topk

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = vecs.filter("vec_id < 5")
    return ann_ivf_topk(vecs, queries, k=5, n_clusters=8, n_probe=8)


_IVF_FULLPROBE_ORACLE = """
    WITH qs AS (SELECT vec_id AS qid,
                       list_transform(embedding, x -> cast(x AS double)) AS qv
                FROM embeddings WHERE vec_id < 5),
    n AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
          FROM embeddings),
    s AS (SELECT qs.qid, n.vec_id,
                 list_dot_product(n.v, qs.qv) /
                 (sqrt(list_dot_product(n.v, n.v)) * sqrt(list_dot_product(qs.qv, qs.qv)))
                   AS cosine
          FROM n CROSS JOIN qs WHERE n.vec_id <> qs.qid),
    r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rn
          FROM s)
    SELECT qid, vec_id AS neighbor, round(cosine, 6) AS cosine, rn AS rank
    FROM r WHERE rn <= 5
"""


def _ivf_export_paths() -> tuple[str, str, str]:
    """Paths for the IVF probe-artifact export (per-vector cluster
    assignments + per-query probe lists), keyed by a content hash of the
    embeddings parquet plus every quantizer parameter and the fixed-point
    scale — neither a testdata regeneration nor a parameter/kernel change
    can pair a stale export with a fresh engine run. The correctness gate
    always compares at sf0.01 (driver contract), which is the default dir
    here; override with SPARK_GRAFT_ORACLE_SF_DIR if that ever changes."""
    import hashlib
    import json
    import os

    from transcript_dedup.embeddings import _KMEANS_SCALE

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    emb = os.path.join(sf_dir, "embeddings.parquet")
    h = hashlib.sha256()
    with open(emb, "rb") as f:
        h.update(f.read())
    h.update(
        json.dumps(
            {**_IVF_PARAMS, "scale": _KMEANS_SCALE, "v": 2},
            sort_keys=True,
        ).encode()
    )
    base = f"/tmp/transcript_dedup_ivf_{h.hexdigest()[:12]}"
    return base + "_assign.parquet", base + "_probe.parquet", emb


def _pq_write_atomic(table, path: str) -> None:
    """Parquet write via tmp file + atomic rename. The oracle-export caches
    key on file EXISTENCE, so a write interrupted mid-flight must never leave
    a partial file at the final path."""
    import os
    import tempfile

    import pyarrow.parquet as pq

    # same-directory tmp (a cross-filesystem fallback would make os.replace
    # raise EXDEV); unlink the tmp if the write fails so a raising
    # pq.write_table can't leak mkstemp files (ADVICE round 7)
    fd, tmp = tempfile.mkstemp(suffix=".parquet", dir=os.path.dirname(path) or ".")
    os.close(fd)
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def _ensure_ivf_export() -> tuple[str, str]:
    """Compute the IVF quantizer artifacts with the pure-numpy mirror
    (embeddings.ivf_probe_artifacts_numpy) and export them once. The mirror
    is bit-identical to the Spark path by construction — the k-means update
    accumulates in exact order-independent int64 fixed point and every float
    step is the same numpy expression the Arrow kernels run (pinned by
    tests/test_embeddings.py::test_ivf_numpy_mirror_matches_spark) — so the
    DuckDB oracle can independently reproduce the partial-probe candidate
    join, exact cosine, and top-k from these inputs."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from transcript_dedup.embeddings import ivf_probe_artifacts_numpy

    a_path, p_path, emb = _ivf_export_paths()
    if not (os.path.exists(a_path) and os.path.exists(p_path)):
        t = pq.read_table(emb, columns=["vec_id", "embedding"])
        ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
        mat = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
        p = _IVF_PARAMS
        qmask = ids < p["query_max_vec_id"]  # the entry's query set
        assigns, probes, _ = ivf_probe_artifacts_numpy(
            mat,
            mat[qmask],
            n_clusters=p["n_clusters"],
            n_probe=p["n_probe"],
            n_iters=p["n_iters"],
            seed=p["seed"],
        )
        qids = ids[qmask]
        # tmp-write + atomic rename: a process killed mid-write must not
        # leave a partial file that passes the all-exist check next run
        _pq_write_atomic(
            pa.table({"vec_id": ids, "cluster": assigns.astype(np.int32)}),
            a_path,
        )
        _pq_write_atomic(
            pa.table(
                {
                    "qid": np.repeat(qids, probes.shape[1]),
                    "cluster": probes.reshape(-1).astype(np.int32),
                }
            ),
            p_path,
        )
    return a_path, p_path


def _ann_ivf_topk_oracle() -> str:
    """Partial-probe IVF oracle: DuckDB reproduces the inverted-list probe
    join (assignments x probe lists), candidate dedup, exact cosine, and
    deterministic top-k entirely from the exported quantizer artifacts —
    the one non-SQL-expressible piece (the iterative k-means) enters only
    as data, exactly like the MinHash signature export
    (_ensure_sig_export)."""
    a_path, p_path = _ensure_ivf_export()
    k = _IVF_PARAMS["k"]
    return f"""
    WITH a AS (SELECT vec_id, cluster FROM read_parquet('{a_path}')),
    p AS (SELECT qid, cluster FROM read_parquet('{p_path}')),
    cand AS (SELECT DISTINCT p.qid, a.vec_id AS neighbor
             FROM p JOIN a ON p.cluster = a.cluster
             WHERE a.vec_id <> p.qid),
    emb AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
            FROM embeddings),
    s AS (SELECT c.qid, c.neighbor,
                 list_dot_product(ev.v, eq.v) /
                 (sqrt(list_dot_product(ev.v, ev.v)) * sqrt(list_dot_product(eq.v, eq.v)))
                   AS cosine
          FROM cand c
          JOIN emb ev ON c.neighbor = ev.vec_id
          JOIN emb eq ON c.qid = eq.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, neighbor ASC) AS rn
          FROM s)
    SELECT qid, neighbor, round(cosine, 6) AS cosine, rn AS rank
    FROM r WHERE rn <= {k}
    """


#: doc_multimodal_features parameters — shared by the Spark query and the
#: oracle export (same lockstep rationale as _IVF_PARAMS)
_MM_PARAMS = {"n_docs": 24, "v": 1}


def _q_doc_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode + feature extraction under the 40/40 oracle regime
    (round-6 verdict item 6): synthesize a deterministic media payload per
    document id (real 16-bit PCM WAV / binary P6 PPM containers, plus an
    undecodable compressed-style payload for every third id), round-trip it
    through the pure struct/numpy decoders (multimodal.decode_wav /
    decode_ppm — reference metadata extraction:
    /root/reference/src/metadata.ts:1-39 reads tags off audio files; here
    the analogous signal-level features), and emit the FEAT_DIM feature
    vector exploded to scalar rows so DuckDB can compare values. The oracle
    recomputes the feature math (envelope bucketing, luminance histogram,
    L2 norm) in SQL from a parquet export of the PRE-ENCODE signal — so
    the container encode->decode round trip and the feature arithmetic are
    both independently verified."""
    from pyspark.sql import functions as F

    from transcript_dedup.multimodal import extract_features, synth_attachments

    n = _MM_PARAMS["n_docs"]
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < n)
        .select("doc_id")
    )
    feats = extract_features(synth_attachments(docs), mode="real")
    return feats.select(
        "doc_id",
        "kind",
        "decode_ok",
        F.posexplode_outer("feat").alias("dim_idx", "val"),
    ).select(
        "doc_id",
        "kind",
        "decode_ok",
        "dim_idx",
        F.round(F.col("val").cast("double"), 6).alias("val"),
    )


def _mm_export_paths() -> tuple[str, str, str]:
    """Export paths for the multimodal oracle's pre-encode signal, keyed by
    a content hash of multimodal.py (signal rule + decoders + feature
    kernels live there) plus _MM_PARAMS — a kernel or parameter change
    re-keys the export, so a stale artifact can never pair with a fresh
    engine run (same discipline as _ivf_export_paths)."""
    import hashlib
    import json
    import os

    import transcript_dedup.multimodal as mm

    h = hashlib.sha256()
    with open(mm.__file__, "rb") as f:
        h.update(f.read())
    h.update(json.dumps(_MM_PARAMS, sort_keys=True).encode())
    base = f"/tmp/transcript_dedup_mm_{h.hexdigest()[:12]}"
    return base + "_manifest.parquet", base + "_audio.parquet", base + "_image.parquet"


def _ensure_mm_export() -> tuple[str, str, str]:
    """Write the pre-encode signal arrays (numpy mirror of
    synth_payload_signal) to parquet: the manifest (doc_id, kind), the
    16-bit-quantized audio samples exactly as build_wav stores them (the
    truncation toward zero happens HERE, so the SQL side divides by 32768
    and gets the decoder's floats bit-identically), and the raw RGB pixels.
    The features themselves are NOT exported — DuckDB recomputes them."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from transcript_dedup.multimodal import synth_payload_signal

    man, aud, img = _mm_export_paths()
    if all(os.path.exists(p) for p in (man, aud, img)):
        return man, aud, img
    m_doc, m_kind = [], []
    a_doc, a_idx, a_val = [], [], []
    i_doc, i_idx, i_r, i_g, i_b = [], [], [], [], []
    for d in range(_MM_PARAMS["n_docs"]):
        kind, sig = synth_payload_signal(d)
        m_doc.append(d)
        m_kind.append(kind)
        if kind == "audio":
            ival = (np.clip(sig, -1, 1) * 32767.0).astype(np.int16)
            a_doc.extend([d] * len(ival))
            a_idx.extend(range(len(ival)))
            a_val.extend(int(v) for v in ival)
        elif kind == "image":
            flat = sig.reshape(-1, 3).astype(np.int64)
            i_doc.extend([d] * len(flat))
            i_idx.extend(range(len(flat)))
            i_r.extend(int(v) for v in flat[:, 0])
            i_g.extend(int(v) for v in flat[:, 1])
            i_b.extend(int(v) for v in flat[:, 2])
    # tmp-write + atomic rename (same crash-safety as _ensure_sig_export): a
    # kill between (or inside) these writes must not leave a partial file set
    # that passes the all-exist check and poisons the oracle export
    _pq_write_atomic(pa.table({"doc_id": m_doc, "kind": m_kind}), man)
    _pq_write_atomic(pa.table({"doc_id": a_doc, "idx": a_idx, "ival": a_val}), aud)
    _pq_write_atomic(
        pa.table({"doc_id": i_doc, "idx": i_idx, "r": i_r, "g": i_g, "b": i_b}), img
    )
    return man, aud, img


def _doc_multimodal_oracle() -> str:
    """DuckDB recompute of the multimodal features from the pre-encode
    signal export: audio = per-bucket mean |sample| envelope (idx*64//n
    bucketing, matching _audio_features), image = 64-bin luminance
    histogram with the exact elementwise 0.299r+0.587g+0.114b doubles and
    floor-then->>2 binning of _image_features, both L2-normalized then
    quantized to float32 like the kernel's .astype(np.float32). Video rows
    reproduce the decode_ok=false null-feature shape."""
    man, aud, img = _ensure_mm_export()
    dim = 64  # transcript_dedup.multimodal.FEAT_DIM
    return f"""
    WITH m AS (SELECT doc_id, kind FROM read_parquet('{man}')),
    a AS (SELECT doc_id, idx, CAST(ival AS DOUBLE) / 32768.0 AS x
          FROM read_parquet('{aud}')),
    an AS (SELECT doc_id, count(*) AS n FROM a GROUP BY doc_id),
    ab AS (SELECT a.doc_id, (a.idx * {dim}) // an.n AS b, abs(a.x) AS ax
           FROM a JOIN an ON a.doc_id = an.doc_id),
    aenv AS (SELECT doc_id, b, avg(ax) AS env FROM ab GROUP BY doc_id, b),
    anrm AS (SELECT doc_id, b,
                    env / sqrt(sum(env * env) OVER (PARTITION BY doc_id)) AS v
             FROM aenv),
    arows AS (SELECT anrm.doc_id, m.kind, TRUE AS decode_ok,
                     CAST(anrm.b AS INTEGER) AS dim_idx,
                     round(CAST(CAST(anrm.v AS REAL) AS DOUBLE), 6) AS val
              FROM anrm JOIN m ON anrm.doc_id = m.doc_id),
    p AS (SELECT doc_id,
                 CAST(0.299 AS DOUBLE) * r + CAST(0.587 AS DOUBLE) * g
               + CAST(0.114 AS DOUBLE) * b AS lum
          FROM read_parquet('{img}')),
    pb AS (SELECT doc_id, least(CAST(floor(lum) AS BIGINT) // 4, {dim} - 1) AS bin
           FROM p),
    grid AS (SELECT i.doc_id, g.range AS b
             FROM (SELECT DISTINCT doc_id FROM pb) i CROSS JOIN range({dim}) g),
    cnt AS (SELECT doc_id, bin, count(*) AS c FROM pb GROUP BY doc_id, bin),
    hist AS (SELECT grid.doc_id, grid.b, CAST(coalesce(cnt.c, 0) AS DOUBLE) AS c
             FROM grid LEFT JOIN cnt ON grid.doc_id = cnt.doc_id AND grid.b = cnt.bin),
    hnrm AS (SELECT doc_id, b,
                    c / sqrt(sum(c * c) OVER (PARTITION BY doc_id)) AS v
             FROM hist),
    irows AS (SELECT hnrm.doc_id, m.kind, TRUE AS decode_ok,
                     CAST(hnrm.b AS INTEGER) AS dim_idx,
                     round(CAST(CAST(hnrm.v AS REAL) AS DOUBLE), 6) AS val
              FROM hnrm JOIN m ON hnrm.doc_id = m.doc_id),
    vrows AS (SELECT doc_id, kind, FALSE AS decode_ok,
                     CAST(NULL AS INTEGER) AS dim_idx, CAST(NULL AS DOUBLE) AS val
              FROM m WHERE kind = 'video')
    SELECT * FROM arows UNION ALL SELECT * FROM irows UNION ALL SELECT * FROM vrows
    """


_CORPUS_PARQUET = "/tmp/transcript_dedup_corpus_seed42_n200.parquet"


def _ensure_corpus_export() -> str:
    """Export the deterministic seed-42 transcript corpus once so the Spark
    query and the DuckDB oracle read the IDENTICAL parquet bytes."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from transcript_dedup.generate import generate_corpus

    if not os.path.exists(_CORPUS_PARQUET):
        turns, _ = generate_corpus(200, seed=42)
        turns = turns.copy()
        turns["ts"] = turns["ts"].astype("datetime64[us]")  # Spark can't read NANOS
        fd, tmp = tempfile.mkstemp(suffix=".parquet", dir="/tmp")
        os.close(fd)
        pq.write_table(pa.Table.from_pandas(turns, preserve_index=False), tmp)
        os.replace(tmp, _CORPUS_PARQUET)
    return _CORPUS_PARQUET


def _q_transcript_decisions_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end transcript decisions with the exact + substring detector
    arms only — kept alongside the full three-detector `transcript_decisions`
    (which, since round 4, has its own complete DuckDB oracle via the
    signature export; see _transcript_decisions_oracle) as the variant whose
    oracle needs no exported signatures. Everything here — reconstruction,
    normalization, star edges, containment, connected components, the rule
    cascade, confidence — is reproduced by the DuckDB oracle over the same
    exported corpus parquet alone."""
    from pyspark.sql import functions as F

    from transcript_dedup.config import DedupConfig
    from transcript_dedup.cluster import connected_components
    from transcript_dedup.decide import make_decisions
    from transcript_dedup.detectors import (
        exact_candidates,
        substring_candidates,
        verify_candidates,
    )
    from transcript_dedup.reconstruct import reconstruct_conversations
    from transcript_dedup.signatures import add_signatures

    cfg = DedupConfig()
    turns = spark.read.parquet(_ensure_corpus_export())
    conv = add_signatures(reconstruct_conversations(turns), cfg).persist()
    conv.count()
    cand = exact_candidates(conv).unionByName(substring_candidates(conv, cfg))
    pairs = verify_candidates(cand, conv, cfg)
    comps = connected_components(pairs.filter("is_match"), cfg)
    dec = make_decisions(comps, conv, pairs, cfg)
    return (
        dec.select(
            "group_id",
            F.concat_ws(",", "keep").alias("keep"),
            F.concat_ws(",", "delete").alias("delete"),
            "rule_applied",
            "decision_type",
            F.col("min_confidence").cast("long").alias("min_confidence"),
            F.col("size").cast("long").alias("size"),
        )
        .orderBy("group_id")
    )


def _transcript_decisions_es_oracle() -> str:
    """Exact+substring-arm DuckDB oracle with every weight/threshold
    substituted from DedupConfig (not hardcoded), so a config change can
    never desync the oracle from the engine silently."""
    from transcript_dedup.config import DedupConfig

    cfg = DedupConfig()
    return f"""
    WITH t AS (SELECT * FROM read_parquet('{_CORPUS_PARQUET}')),
    conv AS (
      SELECT conv_id,
             sum(length(text)) AS total_chars,
             min(ts) AS first_ts,
             avg(CASE WHEN length(trim(text)) > 0 THEN CAST(1 AS double)
                      ELSE CAST(0 AS double) END) AS completeness,
             string_agg(text, chr(10) ORDER BY turn_idx) AS doc_text,
             string_agg(role, '|' ORDER BY turn_idx) AS role_seq
      FROM t GROUP BY conv_id),
    n AS (SELECT conv_id, total_chars, first_ts, completeness, role_seq,
                 {_NORM_DUCK.format(c='doc_text')} AS norm
          FROM conv),
    exg AS (SELECT conv_id, min(conv_id) OVER (PARTITION BY norm) AS rep
            FROM n WHERE length(norm) > 0),
    pairs AS (
      SELECT rep AS conv_a, conv_id AS conv_b,
             TRUE AS m_content, FALSE AS m_substring
      FROM exg WHERE conv_id <> rep
      UNION ALL
      SELECT least(a.conv_id, b.conv_id), greatest(a.conv_id, b.conv_id),
             FALSE, TRUE
      FROM n a JOIN n b
        ON length(a.norm) > 0 AND length(a.norm) < length(b.norm)
       AND position(a.norm IN b.norm) > 0),
    pconf AS (
      SELECT p.conv_a, p.conv_b,
             (CASE WHEN p.m_content THEN {cfg.w_exact} ELSE 0 END)
           + (CASE WHEN p.m_substring THEN {cfg.w_fuzzy} ELSE 0 END)
           + (CASE WHEN abs(na.total_chars - nb.total_chars)
                        <= greatest(na.total_chars, nb.total_chars)
                           * {cfg.length_tolerance_frac}
                   THEN {cfg.w_length} ELSE 0 END)
           + (CASE WHEN na.role_seq = nb.role_seq
                   THEN {cfg.w_meta} ELSE 0 END) AS conf
      FROM pairs p
      JOIN n na ON p.conv_a = na.conv_id
      JOIN n nb ON p.conv_b = nb.conv_id),
    edges AS (SELECT conv_a AS s, conv_b AS d FROM pairs
              UNION SELECT conv_b, conv_a FROM pairs),
    rec AS (
      WITH RECURSIVE reach(a, b) AS (
        SELECT s, s FROM edges
        UNION
        SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s)
      SELECT a AS conv_id, min(b) AS component_id FROM reach GROUP BY a),
    m AS (SELECT rec.conv_id, rec.component_id,
                 n.completeness, n.total_chars, n.first_ts
          FROM rec JOIN n ON rec.conv_id = n.conv_id),
    w1 AS (SELECT m.*,
             max(completeness) OVER cw AS maxc,
             max(total_chars) OVER cw AS maxtc,
             min(first_ts) OVER cw AS mints,
             min(conv_id) OVER cw AS minid
           FROM m WINDOW cw AS (PARTITION BY component_id)),
    w3 AS (SELECT *,
             sum(CASE WHEN completeness = maxc THEN 1 ELSE 0 END) OVER cw AS nbc,
             sum(CASE WHEN total_chars = maxtc THEN 1 ELSE 0 END) OVER cw AS nbl,
             sum(CASE WHEN first_ts = mints THEN 1 ELSE 0 END) OVER cw AS nbe
           FROM w1 WINDOW cw AS (PARTITION BY component_id)),
    w4 AS (SELECT *,
             CASE WHEN nbc = 1 THEN 'keep-most-complete'
                  WHEN nbl = 1 THEN 'keep-longest'
                  WHEN nbe = 1 THEN 'keep-earliest'
                  ELSE 'keep-first-id' END AS rule_applied,
             CASE WHEN nbc = 1 THEN completeness = maxc
                  WHEN nbl = 1 THEN total_chars = maxtc
                  WHEN nbe = 1 THEN first_ts = mints
                  ELSE conv_id = minid END AS is_keep
           FROM w3),
    pc AS (SELECT r.component_id, min(pconf.conf) AS min_confidence
           FROM pconf JOIN rec r ON pconf.conv_a = r.conv_id
           GROUP BY r.component_id),
    dec AS (SELECT component_id AS group_id,
                   coalesce(string_agg(CASE WHEN is_keep THEN conv_id END,
                                       ',' ORDER BY conv_id), '') AS keep,
                   coalesce(string_agg(CASE WHEN NOT is_keep THEN conv_id END,
                                       ',' ORDER BY conv_id), '') AS del_,
                   min(rule_applied) AS rule_applied,
                   count(*) AS size
            FROM w4 GROUP BY component_id)
    SELECT d.group_id, d.keep, d.del_ AS "delete", d.rule_applied,
           CASE WHEN coalesce(pc.min_confidence, 0) >= {cfg.confidence_threshold} THEN 'auto'
                ELSE 'needs_review' END AS decision_type,
           CAST(coalesce(pc.min_confidence, 0) AS bigint) AS min_confidence,
           CAST(d.size AS bigint) AS size
    FROM dec d LEFT JOIN pc ON d.group_id = pc.component_id
    ORDER BY d.group_id
"""


def _sigs_parquet_path() -> str:
    """Signature-export path keyed by exactly the config fields the export
    reads (shingle_k, num_perm, minhash_seed, minhash_width) plus a kernel
    version tag: no signature-relevant change can pair a stale export with
    a fresh engine run, and config fields the export never reads leave the
    path — and with it the transcript_decisions oracle text — unchanged."""
    import hashlib
    import json

    from transcript_dedup.config import DedupConfig
    from transcript_dedup.signatures import KERNEL_VERSION

    cfg = DedupConfig()
    sig_fields = {
        f: getattr(cfg, f) for f in ("shingle_k", "num_perm", "minhash_seed", "minhash_width")
    }
    fp = hashlib.sha256(
        json.dumps({"cfg": sig_fields, "kernel": KERNEL_VERSION}, sort_keys=True).encode()
    ).hexdigest()[:12]
    return f"/tmp/transcript_dedup_sigs_seed42_n200_{fp}.parquet"


def _ensure_sig_export() -> str:
    """Export the kernel-computed (conv_id, minhash, simhash, n_shingles)
    rows once. Signatures come from the pure-Python oracle kernel, which is
    bit-identical to the Spark mapInPandas kernel by construction (shared
    numpy functions; pinned by tests/test_signatures.py
    test_spark_kernel_matches_python) — so DuckDB can reproduce every
    signature-derived quantity (band collisions via list slices,
    est-Jaccard as a position-equality fraction, SimHash Hamming via
    bit_count(xor)) without re-deriving the non-SQL-expressible hashes."""
    import os
    import tempfile

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from transcript_dedup.config import DedupConfig
    from transcript_dedup.generate import generate_corpus
    from transcript_dedup.oracle import build_records

    path = _sigs_parquet_path()
    if not os.path.exists(path):
        recs = build_records(generate_corpus(200, seed=42)[0], DedupConfig())
        tbl = pa.table(
            {
                "conv_id": [r.conv_id for r in recs],
                "minhash": [
                    np.asarray(r.sig, dtype=np.uint64).view(np.int64).tolist()
                    for r in recs
                ],
                "simhash": [
                    r.sim - (1 << 64) if r.sim >= (1 << 63) else r.sim for r in recs
                ],
                "n_shingles": [int(r.n_shingles) for r in recs],
            },
            schema=pa.schema(
                [
                    ("conv_id", pa.string()),
                    ("minhash", pa.list_(pa.int64())),
                    ("simhash", pa.int64()),
                    ("n_shingles", pa.int32()),
                ]
            ),
        )
        fd, tmp = tempfile.mkstemp(suffix=".parquet", dir="/tmp")
        os.close(fd)
        pq.write_table(tbl, tmp)
        os.replace(tmp, path)
    return path


def _transcript_decisions_oracle() -> str:
    """Full three-detector DuckDB oracle for `transcript_decisions`.

    Extends the exact+substring oracle with the fuzzy MinHash arm over the
    exported signatures: the LSH banded candidate join is reproduced as a
    self-join on raw 3-element signature slices (the engine hashes the
    slice with xxhash64, so its candidate set is a superset only under a
    64-bit collision), est-Jaccard as the position-equality fraction over
    the cfg.num_perm minhash positions, and the SimHash Hamming ball as
    bit_count(xor). Per-pair match flags are computed from first
    principles for the UNION of all arms' candidates — exactly verify.py's
    semantics, where m_content/m_substring/m_fuzzy are pair predicates
    independent of which detector surfaced the pair. All banding/threshold
    constants AND the confidence weights / length tolerance / auto gate are
    substituted from DedupConfig so the oracle tracks config changes (e.g.
    the round-4 num_perm 126->96 default switch)."""
    from transcript_dedup.config import DedupConfig

    cfg = DedupConfig()
    corpus = _ensure_corpus_export()
    sigs = _ensure_sig_export()
    return f"""
    WITH t AS (SELECT * FROM read_parquet('{corpus}')),
    conv AS (
      SELECT conv_id,
             sum(length(text)) AS total_chars,
             min(ts) AS first_ts,
             avg(CASE WHEN length(trim(text)) > 0 THEN CAST(1 AS double)
                      ELSE CAST(0 AS double) END) AS completeness,
             string_agg(text, chr(10) ORDER BY turn_idx) AS doc_text,
             string_agg(role, '|' ORDER BY turn_idx) AS role_seq
      FROM t GROUP BY conv_id),
    n AS (SELECT conv_id, total_chars, first_ts, completeness, role_seq,
                 {_NORM_DUCK.format(c='doc_text')} AS norm
          FROM conv),
    sg AS (SELECT * FROM read_parquet('{sigs}')),
    bnd AS (SELECT conv_id, tb.b AS band,
                   minhash[tb.b*{cfg.lsh_rows}+1 : tb.b*{cfg.lsh_rows}+{cfg.lsh_rows}] AS bk
            FROM sg, (SELECT unnest(range(0, {cfg.lsh_bands})) AS b) tb
            WHERE n_shingles > 0),
    coll AS (SELECT DISTINCT x.conv_id AS conv_a, y.conv_id AS conv_b
             FROM bnd x JOIN bnd y
               ON x.band = y.band AND x.bk = y.bk AND x.conv_id < y.conv_id),
    cont AS (SELECT DISTINCT least(a.conv_id, b.conv_id) AS conv_a,
                    greatest(a.conv_id, b.conv_id) AS conv_b
             FROM n a JOIN n b
               ON length(a.norm) > 0 AND length(a.norm) < length(b.norm)
              AND position(a.norm IN b.norm) > 0),
    exg AS (SELECT conv_id, min(conv_id) OVER (PARTITION BY norm) AS rep
            FROM n WHERE length(norm) > 0),
    cand AS (SELECT conv_a, conv_b FROM coll
             UNION SELECT conv_a, conv_b FROM cont
             UNION SELECT rep, conv_id FROM exg WHERE conv_id <> rep),
    feat AS (
      SELECT c.conv_a, c.conv_b,
             (na.norm = nb.norm) AS m_content,
             (cl.conv_a IS NOT NULL AND (
                len(list_filter(range(1, {cfg.num_perm + 1}),
                                i -> sa.minhash[i] = sb.minhash[i]))
                  / {float(cfg.num_perm)} >= {cfg.jaccard_threshold}
                OR bit_count(xor(sa.simhash, sb.simhash))
                     <= {cfg.hamming_radius})) AS m_fuzzy,
             (co.conv_a IS NOT NULL) AS m_substring,
             (abs(na.total_chars - nb.total_chars)
                <= greatest(na.total_chars, nb.total_chars)
                   * {cfg.length_tolerance_frac}) AS m_length,
             (na.role_seq = nb.role_seq) AS m_roles
      FROM cand c
      JOIN n na ON c.conv_a = na.conv_id
      JOIN n nb ON c.conv_b = nb.conv_id
      JOIN sg sa ON c.conv_a = sa.conv_id
      JOIN sg sb ON c.conv_b = sb.conv_id
      LEFT JOIN coll cl ON c.conv_a = cl.conv_a AND c.conv_b = cl.conv_b
      LEFT JOIN cont co ON c.conv_a = co.conv_a AND c.conv_b = co.conv_b),
    mp AS (SELECT conv_a, conv_b,
             (CASE WHEN m_content THEN {cfg.w_exact} ELSE 0 END)
           + (CASE WHEN m_fuzzy THEN {cfg.w_fuzzy} ELSE 0 END)
           + (CASE WHEN m_substring THEN {cfg.w_fuzzy} ELSE 0 END)
           + (CASE WHEN m_length THEN {cfg.w_length} ELSE 0 END)
           + (CASE WHEN m_roles THEN {cfg.w_meta} ELSE 0 END) AS conf
           FROM feat WHERE m_content OR m_fuzzy OR m_substring),
    edges AS (SELECT conv_a AS s, conv_b AS d FROM mp
              UNION SELECT conv_b, conv_a FROM mp),
    rec AS (
      WITH RECURSIVE reach(a, b) AS (
        SELECT s, s FROM edges
        UNION
        SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s)
      SELECT a AS conv_id, min(b) AS component_id FROM reach GROUP BY a),
    m AS (SELECT rec.conv_id, rec.component_id,
                 n.completeness, n.total_chars, n.first_ts
          FROM rec JOIN n ON rec.conv_id = n.conv_id),
    w1 AS (SELECT m.*,
             max(completeness) OVER cw AS maxc,
             max(total_chars) OVER cw AS maxtc,
             min(first_ts) OVER cw AS mints,
             min(conv_id) OVER cw AS minid
           FROM m WINDOW cw AS (PARTITION BY component_id)),
    w3 AS (SELECT *,
             sum(CASE WHEN completeness = maxc THEN 1 ELSE 0 END) OVER cw AS nbc,
             sum(CASE WHEN total_chars = maxtc THEN 1 ELSE 0 END) OVER cw AS nbl,
             sum(CASE WHEN first_ts = mints THEN 1 ELSE 0 END) OVER cw AS nbe
           FROM w1 WINDOW cw AS (PARTITION BY component_id)),
    w4 AS (SELECT *,
             CASE WHEN nbc = 1 THEN 'keep-most-complete'
                  WHEN nbl = 1 THEN 'keep-longest'
                  WHEN nbe = 1 THEN 'keep-earliest'
                  ELSE 'keep-first-id' END AS rule_applied,
             CASE WHEN nbc = 1 THEN completeness = maxc
                  WHEN nbl = 1 THEN total_chars = maxtc
                  WHEN nbe = 1 THEN first_ts = mints
                  ELSE conv_id = minid END AS is_keep
           FROM w3),
    pc AS (SELECT r.component_id, min(mp.conf) AS min_confidence
           FROM mp JOIN rec r ON mp.conv_a = r.conv_id
           GROUP BY r.component_id),
    dec AS (SELECT component_id AS group_id,
                   coalesce(string_agg(CASE WHEN is_keep THEN conv_id END,
                                       ',' ORDER BY conv_id), '') AS keep,
                   coalesce(string_agg(CASE WHEN NOT is_keep THEN conv_id END,
                                       ',' ORDER BY conv_id), '') AS del_,
                   min(rule_applied) AS rule_applied,
                   count(*) AS size
            FROM w4 GROUP BY component_id)
    SELECT d.group_id, d.keep, d.del_ AS "delete", d.rule_applied,
           CASE WHEN coalesce(pc.min_confidence, 0) >= {cfg.confidence_threshold} THEN 'auto'
                ELSE 'needs_review' END AS decision_type,
           CAST(coalesce(pc.min_confidence, 0) AS bigint) AS min_confidence,
           CAST(d.size AS bigint) AS size
    FROM dec d LEFT JOIN pc ON d.group_id = pc.component_id
    ORDER BY d.group_id
"""


def _q_doc_weighted_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/F9 analogue (reference src/resolve-conflicts.ts:47-94 weighted
    path-prefix scorer + src/metadata.ts extractArtist denylist): a
    configurable additive-weight scoring expression selects each duplicate
    group's representative as an alternative to the rule cascade. Mirror
    copies of every 40th doc are planted with a 'mirror/…' source (oracle in
    lockstep) so the prefix weights actually differentiate members."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from transcript_dedup.normalize import normalize_text
    from transcript_dedup.score import additive_score, weighted_representatives

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    planted = docs.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "text",
        "lang",
        F.lit("mirror/archive").alias("source"),
        "n_chars",
    )
    all_ = (
        docs.unionByName(planted)
        .withColumn("norm", normalize_text("text"))
        .filter(F.length("norm") > 0)
    )
    w = Window.partitionBy("norm")
    members = (
        all_.withColumn("group_id", F.min("doc_id").over(w))
        .withColumn("gsz", F.count("*").over(w))
        .filter(F.col("gsz") > 1)
    )
    score = additive_score(
        prefix_rules=[("source", "src0", 40.0), ("source", "mirror/", -10.0)],
        value_rules=[("lang", "de", 5.0)],
        numeric_weights=[("n_chars", 0.01)],
    )
    out = weighted_representatives(members, score, group_col="group_id", id_col="doc_id")
    return out.select(
        "group_id", "doc_id", "source", F.round("score", 6).alias("score"), "is_keep"
    )


_WEIGHTED_KEEP_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, text, lang, source, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text, lang,
             'mirror/archive' AS source, n_chars
      FROM documents WHERE doc_id % 40 = 0),
    n AS (SELECT *, {_NORM_DUCK.format(c='text')} AS norm FROM d),
    g AS (SELECT *, min(doc_id) OVER (PARTITION BY norm) AS group_id,
                 count(*) OVER (PARTITION BY norm) AS gsz
          FROM n WHERE length(norm) > 0),
    s AS (SELECT group_id, doc_id, source,
                 CAST(0.0 AS double)
               + (CASE WHEN starts_with(source, 'src0') THEN CAST(40.0 AS double)
                       ELSE CAST(0.0 AS double) END)
               + (CASE WHEN starts_with(source, 'mirror/') THEN CAST(-10.0 AS double)
                       ELSE CAST(0.0 AS double) END)
               + (CASE WHEN lang = 'de' THEN CAST(5.0 AS double)
                       ELSE CAST(0.0 AS double) END)
               + coalesce(CAST(n_chars AS double), CAST(0.0 AS double))
                   * CAST(0.01 AS double) AS score
          FROM g WHERE gsz > 1),
    r AS (SELECT *, row_number() OVER (PARTITION BY group_id
                                       ORDER BY score DESC, doc_id ASC) AS rn
          FROM s)
    SELECT group_id, doc_id, source, round(score, 6) AS score, rn = 1 AS is_keep
    FROM r
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _q_doc_dedup_components(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {name: fn for name, (fn, _sql) in _REGISTRY.items()}
    out["doc_substring_pairs"] = _q_doc_substring_pairs
    out["doc_dedup_components"] = _q_doc_dedup_components
    out["transcript_decisions"] = _q_transcript_decisions
    out["emb_near_dup_pairs"] = _q_emb_near_dup_pairs
    out["ann_lsh_topk"] = _q_ann_lsh_topk
    out["ann_ivf_topk"] = _q_ann_ivf_topk
    out["ann_ivf_fullprobe_topk"] = _q_ann_ivf_fullprobe_topk
    out["transcript_decisions_es"] = _q_transcript_decisions_es
    out["doc_weighted_keep"] = _q_doc_weighted_keep
    out["doc_metadata_fixer"] = _q_doc_metadata_fixer
    out["region_broadcast_rollup"] = _q_region_broadcast_rollup
    out["doc_multimodal_features"] = _q_doc_multimodal_features
    return out


def oracle_sql() -> dict[str, str]:
    out = {name: sql for name, (_fn, sql) in _REGISTRY.items()}
    out["doc_substring_pairs"] = _SUBSTR_ORACLE
    out["emb_near_dup_pairs"] = _EMB_DUP_ORACLE
    out["doc_dedup_components"] = _COMPONENTS_ORACLE
    out["doc_metadata_fixer"] = _METADATA_FIXER_ORACLE
    out["region_broadcast_rollup"] = _REGION_ROLLUP_ORACLE
    out["ann_ivf_fullprobe_topk"] = _IVF_FULLPROBE_ORACLE
    out["transcript_decisions_es"] = _transcript_decisions_es_oracle()
    out["doc_weighted_keep"] = _WEIGHTED_KEEP_ORACLE
    # full three-detector path: kernel signatures exported to parquet, all
    # downstream logic (banded LSH join, est-Jaccard, Hamming, CC, cascade)
    # reproduced independently in DuckDB
    out["transcript_decisions"] = _transcript_decisions_oracle()
    # sign-LSH buckets: the seeded planes are embedded as SQL constants
    out["ann_lsh_topk"] = _ann_lsh_oracle()
    # ann_ivf_topk (partial probe): the iterative k-means quantizer is not
    # SQL-expressible, so its artifacts (assignments + probe lists) are
    # exported — bit-reproducible thanks to the fixed-point update — and
    # DuckDB reproduces the probe join + cosine + top-k from them
    # (the sig-export pattern); full probe stays pure-SQL via brute force.
    out["ann_ivf_topk"] = _ann_ivf_topk_oracle()
    # multimodal decode: the container round trip runs in Spark (real RIFF
    # WAV / binary PPM decoders); DuckDB recomputes the feature math from a
    # parquet export of the pre-encode signal (round-6 verdict item 6)
    out["doc_multimodal_features"] = _doc_multimodal_oracle()
    return out
