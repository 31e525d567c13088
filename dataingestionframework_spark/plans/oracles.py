"""DuckDB oracle SQL — the ANSI twin of every SQL-expressible query in
``queries.py``. Column names and rounding match the Spark side exactly;
integer-typed results are cast so both engines surface the same width.

Sketch-based queries (simhash, minhash) are oracled too: simhash uses
the portable md5-derived 60-bit sketch reproduced here in pure SQL;
minhash emits only exact-verified pairs, so its oracle is the exact
all-pairs n-gram Jaccard (equality == proof the LSH funnel lost no
qualifying pair on this dataset).

Every query has an oracle twin — including ``multimodal_stub_features``:
the stub's byte-bucket features are reproduced in SQL (the corpus is
pure ASCII, so per-char code points ARE the UTF-8 bytes; asserted by
``octet_length(encode(text)) = length(text)`` holding corpus-wide).
"""

STOPWORDS_SQL = "['the','a','an','of','and','to','in','is','on','for']"

_TOKENS = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"

# word-3-gram multiset per doc (docs with <3 tokens have no grams) —
# matches functions.exploded_word_ngrams exactly
_GRAMS3 = """
        SELECT doc_id,
               unnest(list_transform(
                   range(0, len(ts) - 2),
                   i -> array_to_string(list_slice(ts, i + 1, i + 3), ' ')
               )) AS gram
        FROM toks WHERE len(ts) >= 3
"""


def _simhash_ctes(bits: int = 60, max_hamming: int = 8) -> str:
    """CTE chain (no WITH keyword) rebuilding the portable 60-bit md5
    SimHash sketch in pure DuckDB SQL — one +1/−1 vote column per bit,
    sign bits packed — ending in ``pairs(id_a, id_b, hamming)``, the
    all-pairs near-dup set. Shared by the pair oracle and the
    connected-components cluster oracle."""
    votes = ",\n".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    packed = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    return f"""toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
        grams AS ({_GRAMS3}),
        hashed AS (
            SELECT doc_id,
                   ('0x' || substring(md5(gram), 1, 15))::UBIGINT AS h
            FROM grams
        ),
        votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
        sketch AS (SELECT doc_id, {packed} AS sh FROM votes),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
            FROM sketch a JOIN sketch b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
        )"""


def _simhash_sql(bits: int = 60, max_hamming: int = 8) -> str:
    """All-pairs SimHash oracle. The Spark side's pigeonhole blocking
    has exact recall, so all-pairs is the correct twin."""
    return f"""
        WITH {_simhash_ctes(bits, max_hamming)}
        SELECT id_a, id_b, hamming FROM pairs
    """


def _cc_cluster_sql(bits: int = 60, max_hamming: int = 8) -> str:
    """Connected-components cluster oracle: min-reachable-id over the
    SimHash near-dup pair graph via a recursive CTE (frontier = the
    current label, expand along edges until the reachable set is
    closed), then every document — paired or not — gets a canonical id
    and cluster size. Twin of operators.graph.dedup_clusters."""
    return f"""
        WITH RECURSIVE {_simhash_ctes(bits, max_hamming)},
        edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b AS u, id_a AS v FROM pairs
        ),
        reach(id, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.id, e.v FROM reach r JOIN edges e ON e.u = r.lbl
        ),
        cc AS (SELECT id AS doc_id, min(lbl) AS canonical_id FROM reach GROUP BY id),
        sizes AS (
            SELECT canonical_id, count(*) AS cluster_size
            FROM cc GROUP BY canonical_id
        )
        SELECT cc.doc_id, cc.canonical_id, s.cluster_size
        FROM cc JOIN sizes s USING (canonical_id)
    """


def _lang_scored_sql() -> str:
    """Per-language (hits, lang) structs from the SAME profile constant
    the Spark operator uses — single source of truth."""
    from ..operators.text import LANG_PROFILES

    entries = []
    for lang, words in LANG_PROFILES.items():
        wl = "[" + ",".join(f"'{w}'" for w in words) + "]"
        entries.append(
            f"struct_pack(hits := len(list_intersect(toks, {wl})), lang := '{lang}')"
        )
    return "[" + ", ".join(entries) + "]"

ORACLES: dict[str, str] = {
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                                        AS sum_qty,
               round(sum(l_extendedprice), 2)                                   AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
               round(avg(l_quantity), 4)                                        AS avg_qty,
               round(avg(l_extendedprice), 4)                                   AS avg_price,
               round(avg(l_discount), 4)                                        AS avg_disc,
               count(*)                                                         AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate  > TIMESTAMP '1998-01-01'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
    "q5_region_volume": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """,
    "join_broadcast_dim": """
        SELECT c_mktsegment,
               count(*)                    AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "range_join_ship_window": """
        SELECT o_orderkey, count(*) AS n_lines_60d
        FROM orders JOIN lineitem
          ON o_orderkey = l_orderkey
         AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 60 DAY
        GROUP BY o_orderkey
    """,
    "window_top_order_per_customer": """
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM orders
        QUALIFY row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1
    """,
    "conditional_agg_events": """
        SELECT user_id,
               count(*) AS n_events,
               max(CASE WHEN event_type = 'signup' THEN ts END) AS last_signup_ts,
               round(coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0), 2)
                   AS purchase_value,
               count(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors
        FROM events
        GROUP BY user_id
    """,
    "union_nation_keys": """
        SELECT c_nationkey AS nationkey FROM customer
        UNION
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    "scalar_string_case": """
        SELECT n_nationkey,
               concat(n_name, '-', r_name)                    AS nation_region,
               substring(n_name, 1, 3)                        AS prefix3,
               lower(n_name)                                  AS lower_name,
               trim(concat('  ', n_name, '  '))               AS trimmed,
               CASE WHEN n_nationkey < 10 THEN 'low' ELSE 'high' END AS bucket,
               coalesce(CAST(NULL AS VARCHAR), r_name)        AS coalesced,
               CAST(n_nationkey AS BIGINT)                    AS key_bigint
        FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
    "scalar_datetime": """
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE)                        AS order_date,
               CAST(year(o_orderdate) AS INTEGER)               AS order_year,
               CAST(month(o_orderdate) AS INTEGER)              AS order_month,
               CAST(day(o_orderdate) AS INTEGER)                AS order_day,
               strftime(o_orderdate, '%Y/%m/%d')                AS formatted,
               o_orderdate + INTERVAL 90 DAY                    AS plus_90d,
               o_orderdate + INTERVAL 600 SECOND                AS plus_600s,
               CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
                   AS days_since_epoch0,
               CAST(floor((epoch(o_orderdate) - epoch(TIMESTAMP '1995-01-01')) / 60) AS BIGINT)
                   AS minutes_since_epoch0
        FROM orders
        WHERE o_orderkey < 200
    """,
    "sort_limit_topk": """
        SELECT o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """,
    "agg_scalar_stats": """
        SELECT coalesce(max(o_orderkey), 0)   AS max_key,
               min(o_orderdate)               AS first_order,
               count(DISTINCT o_custkey)      AS n_customers,
               round(avg(o_totalprice), 4)    AS avg_price
        FROM orders
    """,
    "distinct_flag_status": """
        SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
    "anti_join_customers_no_orders": """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "semi_join_customers_with_orders": """
        SELECT c_custkey, c_nationkey
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "filter_like_in_between": """
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders
        WHERE o_orderstatus IN ('F', 'O')
          AND o_orderpriority LIKE '1-%'
          AND o_totalprice BETWEEN 1000 AND 50000
    """,
    "pii_mask_customers": """
        SELECT c_custkey,
               'xxxxxxx'            AS c_name,
               sha256(c_mktsegment) AS c_mktsegment_hash
        FROM customer
    """,
    "dedup_exact_docs": """
        SELECT md5(text)   AS fingerprint,
               min(doc_id) AS keep_id,
               count(*)    AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
    "ngram_jaccard_bounded": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKENS} AS ts FROM documents WHERE doc_id < 200
        ),
        grams AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(0, greatest(len(ts) - 3, 0) + 1),
                       i -> array_to_string(list_slice(ts, i + 1, i + 3), ' ')
                   )) AS g
            FROM toks
        )
        SELECT id_a, id_b, round(raw_sim, 4) AS jaccard_sim
        FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                       / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
                       AS raw_sim
            FROM grams a JOIN grams b ON a.doc_id < b.doc_id
        )
        WHERE raw_sim >= 0.3
    """,
    "text_stats_docs": f"""
        WITH t AS (SELECT doc_id, text, {_TOKENS} AS ts FROM documents)
        SELECT doc_id,
               CAST(length(text) AS INTEGER) AS n_chars_calc,
               CAST(len(ts) AS INTEGER)      AS n_tokens,
               CAST(len(list_distinct(ts)) AS INTEGER) AS n_distinct_tokens,
               CASE WHEN len(ts) > 0 THEN
                   round(CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts), 4)
               END AS ttr,
               CASE WHEN len(ts) > 0 THEN
                   round(CAST(len(list_filter(ts,
                       x -> list_contains({STOPWORDS_SQL}, x))) AS DOUBLE)
                       / len(ts), 4)
               END AS stopword_ratio
        FROM t
    """,
    "embedding_topk": """
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
                   FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id,
               round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 6)
                   AS cosine_sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY cosine_sim DESC, e.vec_id
        LIMIT 10
    """,
    "embedding_near_dup": """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id < 400)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
    """,
    "events_hourly": """
        SELECT date_trunc('hour', ts) AS hour_start,
               event_type,
               count(*)               AS n,
               round(sum(value), 2)   AS total_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
    """,
    "sessionize_events": """
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                        THEN 1 ELSE 0 END AS is_new
            FROM events WHERE ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts,
                   CAST(sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id,
               count(*) AS n_events,
               min(ts)  AS session_start,
               max(ts)  AS session_end
        FROM sessions
        GROUP BY user_id, session_id
    """,
    "ingest_reconcile": """
        SELECT count(*) AS source_rows,
               count(*) AS loaded_rows,
               count(*) AS logged_rows,
               'PASS (Row count match)' AS row_count_match_flag
        FROM lineitem
    """,
    "rollup_agg": """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        -- Spark emits no rows for rollup over EMPTY input; drop the
        -- standard's grand-total-of-nothing row (no-op on real data)
        HAVING count(*) > 0
    """,
    "pivot_orders_status": """
        SELECT o_orderpriority,
               count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
               count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
               count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        FROM orders GROUP BY o_orderpriority
    """,
    "percentiles_orders": """
        SELECT round(quantile_cont(o_totalprice, 0.5), 4)  AS p50,
               round(quantile_cont(o_totalprice, 0.9), 4)  AS p90,
               round(quantile_cont(o_totalprice, 0.99), 4) AS p99
        FROM orders
    """,
    "hll_mergeable_rollup": """
        WITH g AS (
            SELECT o_orderpriority,
                   count(DISTINCT o_custkey) AS exact_custs
            FROM orders GROUP BY o_orderpriority
        )
        SELECT (SELECT count(DISTINCT o_custkey) FROM orders) AS exact_total,
               CAST(sum(exact_custs) AS BIGINT) AS sum_group_exact,
               CASE WHEN (SELECT count(DISTINCT o_custkey) FROM orders) > 0
                    THEN true END AS merged_within_5pct
        FROM g
    """,
    "approx_percentile_verdict": """
        SELECT round(quantile_cont(o_totalprice, 0.9), 4) AS exact_p90,
               CASE WHEN count(o_totalprice) > 0
                    THEN true END AS within_1pct
        FROM orders
    """,
    "stratified_sample_mix": """
        SELECT lang, count(*) AS total, true AS within_bounds
        FROM documents GROUP BY lang
    """,
    "scd2_customer_dim": """
        WITH base AS (
            SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey < 300
        )
        -- unchanged keys: still the open seed row
        SELECT c_custkey, c_mktsegment,
               DATE '2024-01-01' AS valid_from,
               CAST(NULL AS DATE) AS valid_to, true AS is_current
        FROM base WHERE c_custkey % 3 <> 0
        UNION ALL
        -- changed keys: seed row closed at the effective date...
        SELECT c_custkey, c_mktsegment,
               DATE '2024-01-01', DATE '2024-06-01', false
        FROM base WHERE c_custkey % 3 = 0
        UNION ALL
        -- ...and the new version open from it
        SELECT c_custkey, 'UPDATED', DATE '2024-06-01', NULL, true
        FROM base WHERE c_custkey % 3 = 0
        UNION ALL
        -- the brand-new key
        SELECT 99991, 'NEWSEG', DATE '2024-06-01', NULL, true
    """,
    "lateral_topn_per_region": """
        SELECT r.r_name, t.n_name, t.cnt
        FROM region r,
        LATERAL (
            SELECT n.n_name, count(*) AS cnt
            FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
            WHERE n.n_regionkey = r.r_regionkey
            GROUP BY n.n_name
            ORDER BY cnt DESC, n.n_name
            LIMIT 2
        ) t
    """,
    "null_safe_join_counts": """
        WITH a AS (
            SELECT CASE WHEN o_orderkey % 7 <> 0 THEN o_orderkey % 5 END AS k,
                   count(*) AS n_a
            FROM orders WHERE o_orderkey < 500 GROUP BY 1
        ),
        b AS (
            SELECT CASE WHEN o_orderkey % 7 <> 0 THEN o_orderkey % 5 END AS k,
                   count(*) AS n_b
            FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1000 GROUP BY 1
        )
        SELECT a.k, n_a, n_b
        FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    "incremental_agg_parity": """
        SELECT o_orderpriority,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                   AS DECIMAL(18,2)) AS total
        FROM orders
        WHERE o_orderkey < 3000 AND o_orderstatus <> 'F'
        GROUP BY o_orderpriority
    """,
    # same contract as minhash_near_dup: the incremental two-batch
    # bucketed index must reproduce the exact all-pairs answer
    # (bucket_key folding can only ADD candidates, and every candidate
    # is exact-verified before output)
    "lsh_index_bucketed": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS ts
                      FROM documents WHERE doc_id < 300),
        grams AS (SELECT doc_id, list_distinct(list(gram)) AS g
                  FROM ({_GRAMS3}) GROUP BY doc_id)
        SELECT id_a, id_b, round(raw_sim, 4) AS jaccard_sim
        FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                       / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
                       AS raw_sim
            FROM grams a JOIN grams b ON a.doc_id < b.doc_id
        )
        WHERE raw_sim >= 0.3
    """,
    "time_travel_counts": """
        SELECT CAST(0 AS INTEGER) AS version, 'create' AS op,
               CAST(0 AS BIGINT) AS n_rows
        UNION ALL
        SELECT 1, 'append',
               (SELECT count(*) FROM orders WHERE o_orderkey < 2000)
        UNION ALL
        SELECT 2, 'delete',
               (SELECT count(*) FROM orders
                WHERE o_orderkey < 2000 AND o_orderstatus <> 'F')
    """,
    "cdc_changes_orders": """
        SELECT o_orderkey, 'delete' AS _change_type
        FROM orders
        WHERE o_orderkey < 2000 AND o_orderstatus = 'F'
    """,
    "argmax_agg_family": """
        WITH ranked AS (
            SELECT o_orderpriority, o_orderkey, o_orderstatus, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC,
                                               o_orderkey ASC) AS r_top,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice ASC,
                                               o_orderkey ASC) AS r_bot
            FROM orders
        )
        SELECT o_orderpriority,
               max(CASE WHEN r_top = 1 THEN o_orderkey END) AS top_order,
               max(CASE WHEN r_bot = 1 THEN o_orderkey END) AS bottom_order,
               count_if(o_orderstatus = 'F') AS n_f,
               bool_or(o_totalprice > 400000) AS any_big,
               bool_and(o_totalprice > 0) AS all_pos
        FROM ranked GROUP BY o_orderpriority
    """,
    "variant_json_events": """
        SELECT event_id,
               TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)
                   AS k_value
        FROM events
        WHERE TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) <= 50
    """,
    "token_budget_select_docs": f"""
        WITH t AS (
            SELECT doc_id, lang, text, {_TOKENS} AS ts FROM documents
        ),
        s AS (
            SELECT doc_id, lang,
                   CAST(len(ts) AS DOUBLE) AS n_tok,
                   CAST(len(list_distinct(ts)) AS DOUBLE)
                       / greatest(CAST(len(ts) AS DOUBLE), 1.0) AS ttr,
                   CAST(len(list_filter(ts, x -> list_contains({STOPWORDS_SQL}, x))) AS DOUBLE)
                       / greatest(CAST(len(ts) AS DOUBLE), 1.0) AS sw,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))
                       AS INTEGER) AS n_tokens
            FROM t
        ),
        q AS (
            SELECT doc_id, lang, n_tokens,
                   round(((CASE WHEN n_tok BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END)
                          + (CASE WHEN ttr >= 0.2 THEN 1.0 ELSE ttr / 0.2 END)
                          + (CASE WHEN sw BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END))
                         / 3.0, 4) AS quality
            FROM s WHERE n_tokens > 0
        ),
        c AS (
            SELECT lang AS "group", doc_id, quality, n_tokens,
                   sum(n_tokens) OVER (
                       PARTITION BY lang ORDER BY quality DESC, doc_id
                   ) AS cum_tokens
            FROM q
        )
        SELECT "group", doc_id, quality,
               n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM c WHERE cum_tokens <= 2000
    """,
    "temperature_mix_docs": """
        WITH counts AS (
            SELECT lang AS grp, count(*) AS n_docs FROM documents GROUP BY lang
        ),
        norm AS (
            SELECT grp, n_docs,
                   pow(n_docs, 0.5) / sum(pow(n_docs, 0.5)) OVER () AS mw
            FROM counts
        ),
        rates AS (
            SELECT grp, n_docs,
                   round(mw, 9) AS mix_weight,
                   round(least(1.0, 300 * mw / n_docs), 9) AS sample_rate,
                   round(300 * mw, 4) AS expected_docs
            FROM norm
        ),
        keep AS (
            SELECT d.lang AS grp, count(*) AS n_sampled
            FROM documents d JOIN rates r ON d.lang = r.grp
            WHERE ('0x' || substring(md5('tmix:7:'
                      || CAST(d.doc_id AS VARCHAR)), 1, 15))::UBIGINT
                  / 1152921504606846976.0 < r.sample_rate
            GROUP BY d.lang
        )
        SELECT r.grp AS "group",
               CAST(r.n_docs AS BIGINT) AS n_docs,
               r.mix_weight, r.sample_rate, r.expected_docs,
               CAST(coalesce(k.n_sampled, 0) AS BIGINT) AS n_sampled
        FROM rates r LEFT JOIN keep k ON k.grp = r.grp
    """,
    "scrub_pii_contacts": """
        WITH c AS (
            SELECT c_custkey,
                   concat_ws(' ', c_name,
                       'user' || CAST(c_custkey AS VARCHAR) || '@example.com',
                       printf('%02d-%03d-%04d', c_nationkey + 10,
                              c_custkey % 1000, (c_custkey * 7) % 10000),
                       c_mktsegment) AS contact
            FROM customer WHERE c_custkey <= 300
        )
        SELECT c_custkey,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(contact,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<email>', 'g'),
                       '\\d{2,3}(-\\d{3,4}){2,3}', '<phone>', 'g'),
                   '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<ipv4>', 'g') AS contact,
               CAST(length(regexp_extract_all(contact,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                   AS INTEGER) AS n_email,
               CAST(length(regexp_extract_all(contact,
                   '\\d{2,3}(-\\d{3,4}){2,3}')) AS INTEGER) AS n_phone,
               CAST(length(regexp_extract_all(contact,
                   '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b')) AS INTEGER) AS n_ipv4,
               CAST(length(regexp_extract_all(contact,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                   + length(regexp_extract_all(contact,
                       '\\d{2,3}(-\\d{3,4}){2,3}'))
                   + length(regexp_extract_all(contact,
                       '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b'))
                   AS INTEGER) AS n_redactions
        FROM c
    """,
    "equi_depth_buckets_docs": """
        WITH cuts AS (
            SELECT quantile_cont(n_chars, 0.25) AS c1,
                   quantile_cont(n_chars, 0.5)  AS c2,
                   quantile_cont(n_chars, 0.75) AS c3
            FROM documents
        ),
        b AS (
            SELECT n_chars,
                   1 + CAST(n_chars > c1 AS INTEGER)
                     + CAST(n_chars > c2 AS INTEGER)
                     + CAST(n_chars > c3 AS INTEGER) AS bucket
            FROM documents, cuts
        )
        SELECT bucket, count(*) AS n,
               min(n_chars) AS min_chars,
               max(n_chars) AS max_chars,
               round(avg(n_chars), 4) AS avg_chars
        FROM b GROUP BY bucket
    """,
    "media_header_probe": """
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS media_kind,
               CASE WHEN doc_id % 2 = 0
                    THEN CAST((doc_id % 1920) + 16 AS BIGINT) END AS img_width,
               CASE WHEN doc_id % 2 = 0
                    THEN CAST((doc_id % 1080) + 16 AS BIGINT) END AS img_height,
               CASE WHEN doc_id % 2 = 1
                    THEN CAST(1 + (doc_id % 2) AS BIGINT) END AS n_channels,
               CASE WHEN doc_id % 2 = 1
                    THEN CAST(8000 + (doc_id % 8) * 4000 AS BIGINT) END AS sample_rate
        FROM documents
    """,
    "mad_outliers_orders": """
        WITH meds AS (
            SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
            FROM orders GROUP BY o_orderpriority
        ),
        j AS (
            SELECT o.o_orderpriority, o.o_totalprice, m.med,
                   abs(o.o_totalprice - m.med) AS adev
            FROM orders o JOIN meds m USING (o_orderpriority)
        ),
        mads AS (
            SELECT o_orderpriority, quantile_cont(adev, 0.5) AS mad
            FROM j GROUP BY o_orderpriority
        )
        SELECT j.o_orderpriority,
               count(*) AS n,
               round(max(j.med), 4) AS median_price,
               round(max(m.mad), 4) AS mad,
               CAST(sum(CASE WHEN j.adev > 3 * m.mad THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_outliers
        FROM j JOIN mads m USING (o_orderpriority)
        GROUP BY j.o_orderpriority
    """,
    "json_extract_events": """
        SELECT event_id,
               TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)
                   AS k_value
        FROM events
        WHERE TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
    """,
    "string_regex_orders": """
        SELECT o_orderkey,
               CAST(regexp_extract(o_orderpriority, '(\\d)-(\\w+)', 1) AS INTEGER)
                   AS priority_num,
               regexp_extract(o_orderpriority, '(\\d)-([A-Z ]+)', 2) AS priority_word,
               regexp_replace(o_orderstatus, '[FP]', 'X', 'g')       AS status_masked,
               string_split(o_orderpriority, '-')[2]                 AS priority_tail
        FROM orders WHERE o_orderkey < 500
    """,
    "quality_fingerprint_docs": f"""
        WITH t AS (
            SELECT doc_id, text, {_TOKENS} AS ts FROM documents
        ),
        s AS (
            SELECT doc_id, text,
                   CAST(len(ts) AS DOUBLE) AS n_tok,
                   CAST(len(list_distinct(ts)) AS DOUBLE)
                       / greatest(CAST(len(ts) AS DOUBLE), 1.0) AS ttr,
                   CAST(len(list_filter(ts, x -> list_contains({STOPWORDS_SQL}, x))) AS DOUBLE)
                       / greatest(CAST(len(ts) AS DOUBLE), 1.0) AS sw
            FROM t
        )
        SELECT doc_id,
               md5(text) AS fingerprint,
               round(((CASE WHEN n_tok BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END)
                      + (CASE WHEN ttr >= 0.2 THEN 1.0 ELSE ttr / 0.2 END)
                      + (CASE WHEN sw BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END)) / 3.0, 4)
                   AS quality,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INTEGER)
                   AS n_bpe_tokens
        FROM s
    """,
    "q4_exists_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-07-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
    """,
    "q17_small_quantity_revenue": """
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_weekly_revenue
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
        WHERE l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                              FROM lineitem l2
                              WHERE l2.l_partkey = l.l_partkey)
    """,
    "q13_order_distribution": """
        SELECT c_count, count(*) AS custdist
        FROM (SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey)
        GROUP BY c_count
    """,
    "q18_large_orders": """
        SELECT o_orderkey, o_totalprice, sum_qty
        FROM orders
        JOIN (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING round(sum(l_quantity), 2) > 150) ON o_orderkey = l_orderkey
    """,
    "q7_nation_year_volume": """
        SELECT n_name AS supp_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY n_name, year(l_shipdate)
    """,
    "math_functions": """
        SELECT l_orderkey, l_linenumber,
               abs(l_extendedprice - 50000)            AS abs_diff,
               CAST(ceil(l_extendedprice) AS BIGINT)   AS ceil_price,
               CAST(floor(l_extendedprice) AS BIGINT)  AS floor_price,
               round(sqrt(l_extendedprice), 6)         AS sqrt_price,
               round(ln(l_extendedprice), 6)           AS ln_price,
               round(exp(l_discount), 6)               AS exp_disc,
               round(pow(l_discount + 1, 3), 6)        AS pow_disc,
               l_orderkey % 7                          AS mod_key,
               CAST(sign(l_extendedprice - 50000) AS DOUBLE) AS sign_diff,
               greatest(l_quantity, l_discount * 100)  AS greatest_v,
               least(l_quantity, l_tax * 100)          AS least_v,
               nullif(l_returnflag, 'N')               AS flag_or_null
        FROM lineitem WHERE l_orderkey < 300
    """,
    "array_functions": """
        SELECT vec_id,
               CAST(len(embedding) AS INTEGER)                         AS dim,
               round(CAST(embedding[1] AS DOUBLE), 6)                  AS first_val,
               round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS max_val,
               round(CAST(list_aggregate(embedding, 'min') AS DOUBLE), 6) AS min_val,
               round(list_aggregate(CAST(list_slice(embedding, 1, 8) AS DOUBLE[]), 'sum'), 6)
                   AS sum_first8
        FROM embeddings WHERE vec_id < 300
    """,
    "collect_agg": """
        SELECT l_returnflag,
               array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS statuses,
               CAST(len(list_distinct(list(l_suppkey))) AS INTEGER) AS n_suppliers
        FROM lineitem GROUP BY l_returnflag
    """,
    "stats_agg": """
        SELECT round(stddev_samp(l_extendedprice), 2) AS stddev_price,
               round(var_samp(l_quantity), 2)         AS var_qty,
               round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
               round(covar_samp(l_discount, l_tax), 6)     AS covar_disc_tax
        FROM lineitem
    """,
    "regression_robust_stats": """
        SELECT round(regr_slope(o_totalprice, o_custkey), 6)     AS slope,
               round(regr_intercept(o_totalprice, o_custkey), 4) AS intercept,
               round(regr_r2(o_totalprice, o_custkey), 6)        AS r2,
               regr_count(o_totalprice, o_custkey)               AS n,
               round(skewness(o_totalprice)
                     * (count(*) - 2)
                     / sqrt(count(*) * (count(*) - 1.0)), 6)     AS skew_pop,
               round(kurtosis_pop(o_totalprice), 6)              AS kurt_pop,
               round(median(o_totalprice), 4)                    AS med,
               mode(o_orderstatus)                               AS status_mode
        FROM orders
    """,
    "sql_text_q1": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)  AS sum_qty,
               count(*)                   AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "decimal_agg": """
        SELECT l_returnflag,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_price_dec,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                   AS sum_disc_dec
        FROM lineitem GROUP BY l_returnflag
    """,
    "asof_join_events": """
        SELECT l.event_id, l.user_id, l.ts,
               r.ts AS ts_right,
               r.signup_event AS signup_event_right
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') l
        ASOF LEFT JOIN (SELECT user_id, ts, event_id AS signup_event FROM events
                        WHERE event_type = 'signup') r
          ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    # nearest asof: backward + forward ASOF candidates, pick the closer
    # (ties -> backward).
    "asof_join_nearest_events": """
        WITH l AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
        r AS (SELECT user_id, ts, event_id AS click_event FROM events
              WHERE event_type = 'click'),
        b AS (
            SELECT l.event_id, r.ts AS bts, r.click_event AS bev
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        ),
        f AS (
            SELECT l.event_id, r.ts AS fts, r.click_event AS fev
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts <= r.ts
        )
        SELECT l.event_id, l.user_id, l.ts,
               CASE WHEN b.bts IS NOT NULL AND (f.fts IS NULL
                         OR epoch(l.ts) - epoch(b.bts)
                            <= epoch(f.fts) - epoch(l.ts))
                    THEN b.bts ELSE f.fts END AS ts_right,
               CASE WHEN b.bts IS NOT NULL AND (f.fts IS NULL
                         OR epoch(l.ts) - epoch(b.bts)
                            <= epoch(f.fts) - epoch(l.ts))
                    THEN b.bev ELSE f.fev END AS click_event_right
        FROM l JOIN b USING (event_id) JOIN f USING (event_id)
    """,
    "lang_id_docs": f"""
        WITH t AS (
            SELECT doc_id, lang,
                   list_distinct(list_filter(
                       string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS toks
            FROM documents
        ),
        scored AS (
            SELECT doc_id, lang,
                   list_reverse(list_sort({_lang_scored_sql()}))[1] AS best
            FROM t
        )
        SELECT lang,
               CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_guess,
               count(*) AS n
        FROM scored
        GROUP BY lang, CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END
    """,
    "knn_join_sample": """
        WITH l AS (SELECT vec_id AS left_id, CAST(embedding AS DOUBLE[]) AS lv
                   FROM embeddings WHERE vec_id < 50),
             r AS (SELECT vec_id AS right_id, CAST(embedding AS DOUBLE[]) AS rv
                   FROM embeddings WHERE vec_id >= 50),
             s AS (SELECT left_id, right_id,
                          round(list_cosine_similarity(lv, rv), 6) AS cosine_sim
                   FROM l CROSS JOIN r)
        SELECT left_id, right_id, cosine_sim, rank
        FROM (SELECT *, CAST(row_number() OVER (
                  PARTITION BY left_id ORDER BY cosine_sim DESC, right_id) AS INTEGER) AS rank
              FROM s)
        WHERE rank <= 3
    """,
    "knn_join_bucketed": """
        WITH l AS (SELECT vec_id AS left_id, CAST(embedding AS DOUBLE[]) AS lv
                   FROM embeddings WHERE vec_id < 50),
             r AS (SELECT vec_id AS right_id, CAST(embedding AS DOUBLE[]) AS rv
                   FROM embeddings WHERE vec_id >= 50),
             s AS (SELECT left_id, right_id,
                          round(list_cosine_similarity(lv, rv), 6) AS cosine_sim
                   FROM l CROSS JOIN r)
        SELECT left_id, right_id, cosine_sim, rank
        FROM (SELECT *, CAST(row_number() OVER (
                  PARTITION BY left_id ORDER BY cosine_sim DESC, right_id) AS INTEGER) AS rank
              FROM s)
        WHERE rank <= 3
    """,
    # persisted bucketed-index variant: exhaustive probe of the same
    # corpus => identical exact-kNN answer
    "knn_join_indexed": """
        WITH l AS (SELECT vec_id AS left_id, CAST(embedding AS DOUBLE[]) AS lv
                   FROM embeddings WHERE vec_id < 50),
             r AS (SELECT vec_id AS right_id, CAST(embedding AS DOUBLE[]) AS rv
                   FROM embeddings WHERE vec_id >= 50),
             s AS (SELECT left_id, right_id,
                          round(list_cosine_similarity(lv, rv), 6) AS cosine_sim
                   FROM l CROSS JOIN r)
        SELECT left_id, right_id, cosine_sim, rank
        FROM (SELECT *, CAST(row_number() OVER (
                  PARTITION BY left_id ORDER BY cosine_sim DESC, right_id) AS INTEGER) AS rank
              FROM s)
        WHERE rank <= 3
    """,
    "q6_forecast_revenue": """
        SELECT round(coalesce(sum(l_extendedprice * l_discount), 0), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """,
    "q10_returned_items": """
        SELECT c_custkey, c_name, n_name,
               round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)
                   AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-07-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "q14_promo_revenue": """
        SELECT round(
                 100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
    "q15_top_supplier": """
        WITH revenue AS (
            SELECT l_suppkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    "q16_supplier_variety": """
        SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_type <> 'PROMO' AND p_size IN (1, 5, 9, 12, 15, 20)
        GROUP BY p_brand, p_size
    """,
    "q19_disjunctive_revenue": """
        SELECT round(coalesce(sum(l_extendedprice * (1 - l_discount)), 0), 2) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "q22_wealthy_inactive": """
        SELECT c_nationkey,
               count(*) AS numcust,
               round(sum(c_acctbal), 2) AS totacctbal
        FROM customer c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c.c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey
    """,
    "q8_market_share": """
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               round(sum(CASE WHEN s_nationkey = 5
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY year(o_orderdate)
    """,
    "q9_profit_by_nation_year": """
        SELECT n_name AS nation,
               CAST(year(l_shipdate) AS INTEGER) AS o_year,
               round(sum(l_extendedprice * (1 - l_discount)
                         - 0.1 * p_retailprice * l_quantity), 2) AS sum_profit
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%a%'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY n_name, year(l_shipdate)
    """,
    "q11_value_share": """
        WITH by_nation AS (
            SELECT s_nationkey,
                   sum(l_extendedprice * (1 - l_discount)) AS nation_value
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_nationkey
        )
        SELECT s_nationkey, round(nation_value, 2) AS value
        FROM by_nation
        WHERE nation_value > (SELECT sum(nation_value) FROM by_nation) * 0.04
    """,
    "q21_last_shipper_multi_supplier": """
        WITH per_order AS (
            SELECT l_orderkey,
                   count(DISTINCT l_suppkey) AS n_suppliers,
                   max(l_shipdate)           AS last_ship
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT s_name, count(DISTINCT l.l_orderkey) AS numwait
        FROM lineitem l
        JOIN per_order p ON l.l_orderkey = p.l_orderkey
                        AND p.n_suppliers >= 2
                        AND l.l_shipdate = p.last_ship
        JOIN supplier ON l.l_suppkey = s_suppkey
        GROUP BY s_name
    """,
    "stream_stateful_counters_parity": """
        SELECT user_id,
               count(*) AS n_events,
               -- FILTER: the stateful counter sums via pandas, which
               -- skips NaN/None; a bare SQL sum would NaN-poison the
               -- whole user on one bad reading
               round(coalesce(sum(value) FILTER (WHERE value IS NOT NULL
                                                   AND isfinite(value)),
                              0), 2) AS total_value
        FROM events
        GROUP BY user_id
    """,
    "stream_dedup_parity": """
        SELECT DISTINCT user_id, event_type FROM events
    """,
    "stream_dedup_rocksdb_parity": """
        SELECT DISTINCT user_id, event_type FROM events
    """,
    "stream_rollup_merge_parity": """
        SELECT date_trunc('hour', ts) AS bucket,
               event_type,
               count(*) AS n,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
    """,
    "stream_static_enrich_parity": """
        SELECT event_id, user_id, c_nationkey
        FROM events JOIN customer ON user_id = c_custkey
    """,
    "set_ops_all_variants": """
        WITH a AS (SELECT l_returnflag, l_linestatus FROM lineitem
                   WHERE l_orderkey % 2 = 0),
             b AS (SELECT l_returnflag, l_linestatus FROM lineitem
                   WHERE l_orderkey % 3 = 0)
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               'intersect_all' AS op
        FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        GROUP BY l_returnflag, l_linestatus
        UNION ALL
        SELECT l_returnflag, l_linestatus, count(*) AS n, 'except_all' AS op
        FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        GROUP BY l_returnflag, l_linestatus
    """,
    "unpivot_lineitem_metrics": """
        WITH u AS (
            SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS val
            FROM lineitem
            UNION ALL
            SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
            UNION ALL
            SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        )
        SELECT l_returnflag, metric, count(*) AS n, round(avg(val), 4) AS avg_val
        FROM u GROUP BY l_returnflag, metric
    """,
    "window_range_interval": """
        SELECT event_id, user_id,
               count(*) OVER w AS n_trailing_hour,
               round(sum(value) OVER w, 2) AS value_trailing_hour
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    "profile_orders": """
        SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
               count(o_orderkey) AS n_nonnull,
               count(DISTINCT o_orderkey) AS n_distinct,
               CAST(min(o_orderkey) AS DOUBLE) AS min_num,
               CAST(max(o_orderkey) AS DOUBLE) AS max_num,
               CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        FROM orders
        UNION ALL
        SELECT 'o_custkey', count(*), count(o_custkey),
               count(DISTINCT o_custkey),
               CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE),
               NULL, NULL
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*), count(o_totalprice),
               count(DISTINCT o_totalprice),
               min(o_totalprice), max(o_totalprice), NULL, NULL
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*), count(o_orderstatus),
               count(DISTINCT o_orderstatus),
               NULL, NULL, min(o_orderstatus), max(o_orderstatus)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(*), count(o_orderpriority),
               count(DISTINCT o_orderpriority),
               NULL, NULL, min(o_orderpriority), max(o_orderpriority)
        FROM orders
    """,
    # coalesce(sum, 0): zero rows contain zero violations, so every
    # rule passes vacuously (matches ingest/expectations.py evaluate)
    "expectations_orders": """
        SELECT 'orderkey_not_null' AS rule, 'o_orderkey' AS "column",
               'not_null' AS kind, count(*) AS n_rows,
               coalesce(sum(CASE WHEN o_orderkey IS NULL
                                 THEN 1 ELSE 0 END), 0) AS n_failed,
               coalesce(sum(CASE WHEN o_orderkey IS NULL
                                 THEN 1 ELSE 0 END), 0) = 0 AS passed
        FROM orders
        UNION ALL
        SELECT 'orderkey_unique', 'o_orderkey', 'unique', count(*),
               count(o_orderkey) - count(DISTINCT o_orderkey),
               count(o_orderkey) - count(DISTINCT o_orderkey) = 0
        FROM orders
        UNION ALL
        SELECT 'totalprice_range', 'o_totalprice', 'between', count(*),
               coalesce(sum(CASE WHEN NOT (o_totalprice BETWEEN 0.0 AND 450000.0)
                        THEN 1 ELSE 0 END), 0),
               coalesce(sum(CASE WHEN NOT (o_totalprice BETWEEN 0.0 AND 450000.0)
                        THEN 1 ELSE 0 END), 0) = 0
        FROM orders
        UNION ALL
        SELECT 'status_domain', 'o_orderstatus', 'in_set', count(*),
               coalesce(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                        THEN 1 ELSE 0 END), 0),
               coalesce(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                        THEN 1 ELSE 0 END), 0) = 0
        FROM orders
        UNION ALL
        SELECT 'priority_format', 'o_orderpriority', 'matches', count(*),
               coalesce(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                        THEN 1 ELSE 0 END), 0),
               coalesce(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                        THEN 1 ELSE 0 END), 0) = 0
        FROM orders
    """,
    "session_window_batch": """
        WITH ord AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM events WHERE ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        s AS (
            SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
            FROM ord
        )
        SELECT min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               user_id,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM s GROUP BY user_id, sid
    """,
    "seeded_shuffle_docs": """
        SELECT doc_id,
               row_number() OVER (
                   ORDER BY md5(concat('7', ':', CAST(doc_id AS VARCHAR)))
               ) - 1 AS shuffle_rank
        FROM documents
    """,
    "frame_sample_docs": """
        WITH f AS (
            SELECT doc_id, hex(encode(text)) AS ph FROM documents
        ),
        g AS (
            SELECT doc_id, ph,
                   unnest(range(0, CAST(ceil(length(ph) / 128.0) AS BIGINT), 2)) AS i
            FROM f
        )
        SELECT doc_id,
               CAST(i AS INTEGER) AS frame_idx,
               CAST(length(substring(ph, i * 128 + 1, 128)) / 2 AS INTEGER)
                   AS frame_size,
               md5(lower(substring(ph, i * 128 + 1, 128))) AS frame_md5
        FROM g
    """,
    "resize_stub_docs": """
        WITH f AS (
            -- NULL payloads are DROPPED by the operator (nothing to
            -- resize; its output schema is non-null)
            SELECT doc_id, hex(encode(text)) AS ph FROM documents
            WHERE text IS NOT NULL
        ),
        g AS (
            SELECT doc_id, ph,
                   unnest(range(0, CAST(length(ph) / 2 AS BIGINT), 4)) AS i
            FROM f
        ),
        r AS (
            SELECT doc_id,
                   string_agg(substring(ph, i * 2 + 1, 2), '' ORDER BY i) AS rhex,
                   count(*) AS rn
            FROM g GROUP BY doc_id
        )
        -- left join back to the doc universe: an EMPTY payload has no
        -- strided positions (range unnest emits nothing) but the
        -- operator still reports (0, 0, md5('')) for it
        SELECT f.doc_id,
               CAST(length(f.ph) / 2 AS INTEGER) AS orig_size,
               CAST(coalesce(r.rn, 0) AS INTEGER) AS resized_size,
               md5(lower(coalesce(r.rhex, ''))) AS resized_md5
        FROM f LEFT JOIN r USING (doc_id)
    """,
    # presence is an explicit TRUE marker, not id-nullness: a NULL
    # doc_id present on one side must classify by SIDE, exactly as
    # the operator's _in_old/_in_new markers do (round-7 advice)
    "corpus_diff_versions": """
        WITH old AS (
            SELECT doc_id, md5(text) AS fp, TRUE AS in_old
            FROM documents WHERE doc_id % 7 <> 0
        ),
        new AS (
            SELECT doc_id,
                   md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS fp,
                   TRUE AS in_new
            FROM documents WHERE doc_id % 11 <> 0
        )
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.in_old IS NULL THEN 'added'
                    WHEN n.in_new IS NULL THEN 'removed'
                    WHEN o.fp IS NOT DISTINCT FROM n.fp THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    """,
    "q2_min_cost_supplier": """
        WITH offers AS (
            SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
                   min(l_extendedprice / l_quantity) AS supp_cost
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
                         AND p_type = 'SMALL' AND p_size BETWEEN 10 AND 20
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
            GROUP BY p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
        )
        SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
               p_partkey, p_name, round(supp_cost, 4) AS supp_cost
        FROM offers o
        WHERE supp_cost = (SELECT min(supp_cost) FROM offers m
                           WHERE m.p_partkey = o.p_partkey)
    """,
    "q12_late_shipment_priority": """
        SELECT l_returnflag,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS high_line_count,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_shipdate > o_orderdate
        GROUP BY l_returnflag
    """,
    "q20_excess_share_suppliers": """
        WITH per_supp AS (
            SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_name LIKE 'small%'
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate <  TIMESTAMP '1996-01-01'
            GROUP BY l_partkey, l_suppkey
        )
        SELECT s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal
        FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM per_supp p
            WHERE supp_qty * 5 > (SELECT sum(supp_qty) FROM per_supp t
                                  WHERE t.l_partkey = p.l_partkey)
        )
    """,
    "cube_agg": """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               count(*) AS n,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        -- Spark emits no rows for cube over EMPTY input (see rollup_agg)
        HAVING count(*) > 0
    """,
    "grouping_sets_agg": """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))
    """,
    "window_value_family": """
        SELECT o_custkey, o_orderkey,
               round(first_value(o_totalprice) OVER w, 2) AS first_price,
               round(last_value(o_totalprice)  OVER w, 2) AS last_price,
               round(nth_value(o_totalprice, 2) OVER w, 2) AS second_price
        FROM orders
        WHERE o_custkey < 300
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    "corpus_clean_stats": f"""
        WITH keep AS (
            SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        ),
        toks AS (
            SELECT d.doc_id, d.lang, d.text, {_TOKENS} AS ts
            FROM documents d JOIN keep USING (doc_id)
        ),
        scored AS (
            SELECT doc_id, lang, text,
                   round(((CASE WHEN len(ts) BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END)
                          + (CASE WHEN CAST(len(list_distinct(ts)) AS DOUBLE)
                                       / greatest(CAST(len(ts) AS DOUBLE), 1.0) >= 0.2
                                  THEN 1.0
                                  ELSE (CAST(len(list_distinct(ts)) AS DOUBLE)
                                        / greatest(CAST(len(ts) AS DOUBLE), 1.0)) / 0.2 END)
                          + (CASE WHEN CAST(len(list_filter(ts,
                                       x -> list_contains({STOPWORDS_SQL}, x))) AS DOUBLE)
                                       / greatest(CAST(len(ts) AS DOUBLE), 1.0)
                                       BETWEEN 0.01 AND 0.6
                                  THEN 1.0 ELSE 0.5 END)) / 3.0, 4) AS quality
            FROM toks
        )
        SELECT lang,
               count(*) AS n_docs,
               round(avg(quality), 4) AS mean_quality,
               round(avg(CAST(length(text) AS DOUBLE)), 2) AS mean_chars
        FROM scored
        WHERE quality >= 0.5
        GROUP BY lang
    """,
    "intersect_nation_keys": """
        SELECT c_custkey AS custkey FROM customer
        INTERSECT
        SELECT o_custkey AS custkey FROM orders
    """,
    "except_nation_keys": """
        SELECT c_custkey AS custkey FROM customer
        EXCEPT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    "window_lead_lag_rank": """
        SELECT o_custkey, o_orderkey,
               round(lag(o_totalprice)  OVER w, 2) AS prev_price,
               round(lead(o_totalprice) OVER w, 2) AS next_price,
               CAST(row_number() OVER w AS INTEGER) AS rn,
               CAST(ntile(4) OVER w AS INTEGER)     AS quartile,
               round(percent_rank() OVER w, 6)      AS pct_rank,
               round(cume_dist() OVER w, 6)         AS cume
        FROM orders
        WHERE o_custkey < 500
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "window_moving_avg": """
        SELECT o_custkey, o_orderkey,
               round(avg(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg3,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        FROM orders
        WHERE o_custkey < 500
    """,
    "salted_join_agg": """
        SELECT s_nationkey,
               count(*) AS n_lines,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_nationkey
    """,
    "explode_token_topk": """
        SELECT token, count(*) AS n
        FROM (SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                        x -> x <> '')) AS token
              FROM documents)
        GROUP BY token
        ORDER BY n DESC, token
        LIMIT 25
    """,
    "map_json_events": """
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS INTEGER) AS k_value,
               CAST(len(json_keys(props)) AS INTEGER)      AS n_keys
        FROM events
        WHERE event_id < 2000
    """,
    "array_higher_order": """
        SELECT vec_id,
               CAST(len(list_filter(e, x -> x > 0)) AS INTEGER) AS n_positive,
               round(list_aggregate(list_transform(e, x -> x * x), 'sum'), 6) AS norm_sq,
               len(list_filter(e, x -> x > 0.9)) > 0 AS has_big,
               round(list_aggregate(list_transform(e, x -> abs(x)), 'sum'), 6) AS l1_norm
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        WHERE vec_id < 300
    """,
    "string_advanced": """
        SELECT p_partkey,
               lpad(p_brand, 12, '*')          AS brand_padded,
               reverse(p_name)                 AS name_rev,
               repeat('ab', 3)                 AS const_rep,
               CAST(instr(p_name, 'a') AS INTEGER) AS first_a,
               translate(p_type, 'AEO', '430') AS type_l33t,
               CAST(levenshtein(p_name, p_brand) AS INTEGER) AS lev_name_brand
        FROM part
        WHERE p_partkey < 300
    """,
    "date_family2": """
        SELECT o_orderkey,
               CAST(quarter(o_orderdate) AS INTEGER)        AS order_quarter,
               CAST(dayofweek(o_orderdate) + 1 AS INTEGER)  AS order_dow,
               CAST(weekofyear(o_orderdate) AS INTEGER)     AS order_week,
               last_day(CAST(o_orderdate AS DATE))          AS month_end,
               CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3_months
        FROM orders
        WHERE o_orderkey < 300
    """,
    "histogram_totalprice": """
        SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
               count(*)                AS n,
               round(min(o_totalprice), 2) AS lo,
               round(max(o_totalprice), 2) AS hi
        FROM orders
        GROUP BY 1
    """,
    "chunk_docs": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKENS} AS ts FROM documents WHERE doc_id < 100
        ),
        starts AS (
            SELECT doc_id, ts,
                   unnest(range(0, greatest(len(ts), 1), 30)) AS s
            FROM toks
        )
        SELECT doc_id,
               CAST(s // 30 AS INTEGER) AS chunk_id,
               CAST(len(list_slice(ts, s + 1, s + 40)) AS INTEGER) AS n_chunk_tokens,
               array_to_string(list_slice(ts, s + 1, s + 40), ' ') AS chunk
        FROM starts
        WHERE len(list_slice(ts, s + 1, s + 40)) > 0
    """,
    "rolling_fingerprint_docs": f"""
        SELECT doc_id,
               CASE WHEN text IS NULL THEN NULL ELSE
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform({_TOKENS},
                               x -> CAST(('0x' || substring(md5(x), 1, 10))
                                         ::UBIGINT AS BIGINT))),
                       (a, b) -> (a * 31 + b) & 1099511627775
                   )
               END AS rolling_fp
        FROM documents
    """,
    # Concat-and-chunk packing: running token sum per language, each doc
    # spans sequences floor(start/256)..floor((end-1)/256).
    "pack_sequences_docs": f"""
        WITH toks AS (
            SELECT lang AS pack_key, doc_id, len({_TOKENS}) AS n_tok
            FROM documents
        ),
        pos AS (
            SELECT pack_key, doc_id, n_tok,
                   CAST(sum(n_tok) OVER (PARTITION BY pack_key
                                         ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cum_end
            FROM toks WHERE n_tok > 0
        ),
        sl AS (
            SELECT pack_key, doc_id, cum_end, cum_end - n_tok AS doc_offset,
                   unnest(generate_series((cum_end - n_tok) // 256,
                                          (cum_end - 1) // 256)) AS seq_id
            FROM pos
        )
        SELECT pack_key, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
               CAST(least(cum_end, (seq_id + 1) * 256)
                    - greatest(doc_offset, seq_id * 256) AS BIGINT)
                   AS slice_tokens,
               CAST(doc_offset AS BIGINT) AS doc_offset
        FROM sl
    """,
    "decontaminate_docs": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
        g AS ({_GRAMS3}),
        bench AS (
            SELECT DISTINCT g.gram
            FROM g JOIN documents d USING (doc_id) WHERE d.source = 'src0'
        ),
        corpus AS (
            SELECT DISTINCT g.doc_id, g.gram
            FROM g JOIN documents d USING (doc_id) WHERE d.source <> 'src0'
        ),
        ov AS (
            SELECT doc_id, count(*) AS overlap_grams
            FROM corpus JOIN bench USING (gram) GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(ov.overlap_grams, 0) AS BIGINT) AS overlap_grams,
               coalesce(ov.overlap_grams, 0) >= 2 AS contaminated
        FROM documents d LEFT JOIN ov USING (doc_id)
        WHERE d.source <> 'src0'
    """,
    # Ranking keyed on (tf desc, df asc, term) — never the float score.
    "tfidf_top_terms_docs": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
        terms AS (SELECT doc_id, unnest(ts) AS term FROM toks),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM terms GROUP BY doc_id, term
        ),
        dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        nd AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT doc_id, term, tf, df,
                   round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6)
                       AS score
            FROM tf JOIN dfq USING (term) CROSS JOIN nd
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY tf DESC, df ASC, term ASC) AS rnk
            FROM scored
        )
        SELECT doc_id, CAST(rnk AS INTEGER) AS "rank", term,
               CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
        FROM ranked WHERE rnk <= 3
    """,
    "repeated_gram_ratio_docs": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
        g AS ({_GRAMS3}),
        dg AS (SELECT DISTINCT doc_id, gram FROM g),
        gdf AS (SELECT gram, count(*) AS gdf FROM dg GROUP BY gram),
        st AS (
            SELECT doc_id, count(*) AS n_grams,
                   sum(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) AS shared_grams
            FROM dg JOIN gdf USING (gram) GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(n_grams AS BIGINT) AS n_grams,
               CAST(shared_grams AS BIGINT) AS shared_grams,
               round(shared_grams * 1.0 / n_grams, 6) AS dup_gram_ratio,
               (shared_grams * 1.0 / n_grams) > 0.5 AS boilerplate
        FROM st
    """,
    # Split/shard assignment recomputed from the same portable md5
    # hashes — division by 2^60 is exact in IEEE double on both engines.
    "train_split_shard_docs": """
        WITH h AS (
            SELECT doc_id,
                   ('0x' || substring(md5('split:42:'
                        || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
                       / 1152921504606846976.0 AS u,
                   CAST(('0x' || substring(md5('shard:42:'
                        || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT % 64
                       AS INTEGER) AS shard,
                   CAST(('0x' || substring(md5('order:42:'
                        || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
                       AS BIGINT) AS order_key
            FROM documents
        )
        SELECT doc_id,
               CASE WHEN u < 0.9 THEN 'train'
                    WHEN u < 0.95 THEN 'val'
                    ELSE 'test' END AS split,
               shard, order_key
        FROM h
    """,
    "date_spine_zero_fill": """
        WITH spine AS (
            SELECT CAST(unnest(generate_series(DATE '1996-01-01',
                                               DATE '1996-01-31',
                                               INTERVAL 1 DAY)) AS DATE) AS day
        ),
        per_day AS (
            SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1996-02-01'
            GROUP BY CAST(o_orderdate AS DATE)
        )
        SELECT spine.day, coalesce(n, 0) AS n_orders
        FROM spine LEFT JOIN per_day ON spine.day = per_day.day
    """,
    "null_semantics": """
        SELECT nullif(o_orderstatus, 'O') AS status_or_null,
               count(*) AS n_rows,
               count(nullif(o_orderstatus, 'O')) AS n_nonnull,
               count(CASE WHEN nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM 'F'
                          THEN 1 END) AS n_f,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY nullif(o_orderstatus, 'O')
    """,
    "misc_functions": """
        SELECT l_returnflag,
               CAST(bit_and(l_linenumber) AS INTEGER) AS band,
               CAST(bit_or(l_linenumber)  AS INTEGER) AS bor,
               CAST(bit_xor(l_orderkey)   AS BIGINT)  AS bxor,
               max(to_base64(encode(l_linestatus)))   AS b64_max,
               max(to_hex(l_orderkey))                AS hex_max
        FROM lineitem
        WHERE l_orderkey < 200
        GROUP BY l_returnflag
    """,
    "applyinpandas_group_slope": """
        SELECT l_returnflag,
               round(regr_slope(l_extendedprice, l_quantity), 4) AS slope
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "pandas_udf_zscore": """
        SELECT o_orderkey,
               round((o_totalprice - (SELECT avg(o_totalprice) FROM orders))
                     / (SELECT stddev_samp(o_totalprice) FROM orders), 6) AS price_z
        FROM orders
        WHERE o_orderkey < 2000
    """,
    "stream_hourly_parity": """
        SELECT date_trunc('hour', ts)                 AS window_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
               event_type,
               count(*) AS n,
               round(sum(value), 2) AS total_value
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1, 2, 3
    """,
    "binary_payload_meta": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INTEGER) AS payload_size,
               sha256(text) AS payload_hash,
               CASE WHEN text IS NULL THEN NULL
                    ELSE 'application/octet-stream' END AS payload_mime
        FROM documents
    """,
    # The mapInPandas stub hashes payload bytes into 4 buckets
    # (bucket[i%4] += byte/255). The corpus is pure ASCII, so the SQL
    # twin can rebuild the buckets from per-char code points.
    # true UTF-8 BYTE buckets via the hex of the encoded payload — not
    # per-CHAR code points, which silently diverge from the operator's
    # byte loop the moment a non-ASCII character appears (fuzz-gate
    # finding; the shipped corpus is ASCII so both agreed there)
    "multimodal_stub_features": """
        WITH f AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS n
            FROM documents
        )
        SELECT doc_id,
               CAST(n AS INTEGER) AS payload_size,
               -- NULL payload -> NULL features (the mapInPandas stub
               -- appends None); empty payload -> 0.0 buckets
               CASE WHEN hx IS NULL THEN NULL ELSE
                   round(coalesce(list_sum(list_transform(
                       list_filter(range(0, n), i -> i % 4 = 0),
                       i -> ('0x' || substring(hx, i * 2 + 1, 2))::INT / 255.0
                   )), 0), 4)
               END AS f0,
               CASE WHEN hx IS NULL THEN NULL ELSE
                   round(coalesce(list_sum(list_transform(
                       list_filter(range(0, n), i -> i % 4 = 3),
                       i -> ('0x' || substring(hx, i * 2 + 1, 2))::INT / 255.0
                   )), 0), 4)
               END AS f3
        FROM f
    """,
    "simhash_near_dup": _simhash_sql(bits=60, max_hamming=8),
    "dedup_cluster_canonical": _cc_cluster_sql(bits=60, max_hamming=8),
    # minhash_near_dup emits only exact-verified pairs, so the oracle is
    # the exact all-pairs word-3-gram Jaccard — equality proves the
    # LSH-band + signature-estimate funnel lost no qualifying pair.
    "minhash_near_dup": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
        grams AS (SELECT doc_id, list_distinct(list(gram)) AS g
                  FROM ({_GRAMS3}) GROUP BY doc_id)
        SELECT id_a, id_b, round(raw_sim, 4) AS jaccard_sim
        FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                       / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
                       AS raw_sim
            FROM grams a JOIN grams b ON a.doc_id < b.doc_id
        )
        WHERE raw_sim >= 0.3
    """,
    # one-shot rebuild of the streamed sketch: merge-by-addition makes
    # the drained store equal the batch sketch, so the same md5 buckets
    # reproduce estimates including collisions
    "stream_cms_rollup_parity": """
        WITH seeds AS (SELECT unnest(range(0, 4)) AS seed),
        occ AS (SELECT user_id FROM events),
        cms AS (
            SELECT seed,
                   ('0x' || substring(md5(CAST(seed AS VARCHAR) || ':'
                       || CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT
                       % 1024 AS bucket,
                   count(*) AS cnt
            FROM occ, seeds GROUP BY 1, 2
        ),
        keys AS (SELECT DISTINCT user_id FROM events WHERE user_id < 40),
        probes AS (
            SELECT k.user_id, seed,
                   ('0x' || substring(md5(CAST(seed AS VARCHAR) || ':'
                       || CAST(k.user_id AS VARCHAR)), 1, 15))::UBIGINT
                       % 1024 AS bucket
            FROM keys k, seeds
        ),
        est AS (
            SELECT p.user_id,
                   CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est_cnt
            FROM probes p LEFT JOIN cms c USING (seed, bucket)
            GROUP BY p.user_id
        ),
        tru AS (
            SELECT user_id, count(*) AS true_cnt
            FROM events WHERE user_id < 40 GROUP BY user_id
        )
        SELECT e.user_id, e.est_cnt, t.true_cnt,
               CAST(e.est_cnt - t.true_cnt AS BIGINT) AS overestimate
        FROM est e JOIN tru t USING (user_id)
    """,
    # plain join+GROUP-BY twin of the exploded positional-token
    # equi-join (same mechanism as blocklist_lexicon_docs, which the
    # driver hash-matches): tokenize on [^a-z0-9]+, regenerate 1- and
    # 2-grams by list slicing, join the 2-phrase VALUES list, count
    "blocklist_filter_docs": """
        WITH toks AS (
            SELECT doc_id, lang,
                   list_filter(string_split_regex(lower(text),
                       '[^a-z0-9]+'), x -> x <> '') AS ts
            FROM documents
        ),
        pos AS (SELECT doc_id, ts,
                       unnest(range(1, len(ts) + 1)) AS p
                FROM toks),
        g1 AS (SELECT doc_id, ts[p] AS gram FROM pos),
        g2 AS (SELECT doc_id, ts[p] || ' ' || ts[p + 1] AS gram
               FROM pos WHERE p + 1 <= len(ts)),
        lex(gram) AS (VALUES ('merge'), ('window sort')),
        hits AS (SELECT doc_id, count(*) AS h
                 FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2) g
                 JOIN lex USING (gram) GROUP BY doc_id)
        SELECT lang, count(*) AS n_docs,
               sum(CASE WHEN coalesce(h, 0) <= 2 THEN 1 ELSE 0 END)
                   AS n_passing,
               CAST(sum(coalesce(h, 0)) AS BIGINT) AS total_hits
        FROM toks LEFT JOIN hits USING (doc_id)
        GROUP BY lang
    """,
    # the identical 4x1024 count-min sketch rebuilt in SQL (same
    # md5-prefix buckets), so estimates match INCLUDING collisions
    "cms_frequency_orders": """
        WITH seeds AS (SELECT unnest(range(0, 4)) AS seed),
        occ AS (SELECT o_custkey AS custkey FROM orders),
        cms AS (
            SELECT seed,
                   ('0x' || substring(md5(CAST(seed AS VARCHAR) || ':'
                       || CAST(custkey AS VARCHAR)), 1, 15))::UBIGINT
                       % 1024 AS bucket,
                   count(*) AS cnt
            FROM occ, seeds GROUP BY 1, 2
        ),
        probes AS (
            SELECT c_custkey AS custkey, seed,
                   ('0x' || substring(md5(CAST(seed AS VARCHAR) || ':'
                       || CAST(c_custkey AS VARCHAR)), 1, 15))::UBIGINT
                       % 1024 AS bucket
            FROM customer, seeds WHERE c_custkey < 20
        ),
        est AS (
            SELECT p.custkey,
                   CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est_cnt
            FROM probes p LEFT JOIN cms c USING (seed, bucket)
            GROUP BY p.custkey
        ),
        tru AS (SELECT custkey, count(*) AS true_cnt FROM occ GROUP BY 1)
        SELECT e.custkey, e.est_cnt,
               CAST(coalesce(t.true_cnt, 0) AS BIGINT) AS true_cnt,
               CAST(e.est_cnt - coalesce(t.true_cnt, 0) AS BIGINT)
                   AS overestimate
        FROM est e LEFT JOIN tru t USING (custkey)
    """,
    # WARC parse∘build = id: every parsed record field is a pure
    # function of the source row (strlen = octet count, matching
    # Content-Length framing)
    "warc_roundtrip_docs": """
        SELECT 'response' AS warc_type,
               '<urn:corpus:' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
               'http://corpus.local/doc/' || CAST(doc_id AS VARCHAR)
                   AS target_uri,
               CAST(strlen(text) AS BIGINT) AS content_length,
               text
        FROM documents WHERE doc_id < 240
    """,
    # identical md5 cut-point arithmetic rebuilds the exact PSM strings
    "fim_transform_docs": """
        WITH d AS (SELECT doc_id, text, length(text) AS l FROM documents),
        h AS (SELECT doc_id, text, l,
                CAST(1 + ('0x' || substring(md5('fim1:0:'
                    || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
                    % (l - 2) AS INTEGER) AS a
              FROM d WHERE l >= 3),
        h2 AS (SELECT doc_id, text, l, a,
                CAST(a + 1 + ('0x' || substring(md5('fim2:0:'
                    || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
                    % (l - a - 1) AS INTEGER) AS b
               FROM h)
        SELECT doc_id, a AS cut_a, b AS cut_b,
               '<PRE>' || substring(text, 1, a)
                   || '<SUF>' || substring(text, b + 1, l - b)
                   || '<MID>' || substring(text, a + 1, b - a) AS fim_text
        FROM h2
        UNION ALL
        -- l IS NULL: a NULL-text doc passes through (NULL cuts, NULL
        -- fim_text) — the WHERE l >= 3 / l < 3 split would drop it
        SELECT doc_id, CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), text
        FROM d WHERE l < 3 OR l IS NULL
    """,
    # same distinct per-source gram sets, pairwise via the gram join
    "source_overlap_docs": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
        g0 AS ({_GRAMS3}),
        sg AS (SELECT DISTINCT d.source AS grp, g.gram
               FROM g0 g JOIN documents d USING (doc_id)),
        sz AS (SELECT grp, count(*) AS n FROM sg GROUP BY grp),
        pairs AS (SELECT a.grp AS src_a, b.grp AS src_b,
                         count(*) AS n_common
                  FROM sg a JOIN sg b
                    ON a.gram = b.gram AND a.grp < b.grp
                  GROUP BY 1, 2)
        SELECT p.src_a, p.src_b, p.n_common,
               round(CAST(p.n_common AS DOUBLE)
                     / (za.n + zb.n - p.n_common), 6) AS jaccard
        FROM pairs p JOIN sz za ON za.grp = p.src_a
        JOIN sz zb ON zb.grp = p.src_b
    """,
    # same equi-width buckets over a static spine; proportions floored
    # at eps before the (q-p)*ln(q/p) term
    "psi_drift_events": """
        WITH b AS (SELECT CAST(unnest(range(0, 10)) AS INTEGER) AS bucket),
        r AS (SELECT CAST(least(9, greatest(0,
                  floor(value / 50.0))) AS INTEGER) AS bucket
              FROM events WHERE ts < TIMESTAMP '2024-01-16'
                AND value IS NOT NULL AND isfinite(value)),
        c AS (SELECT CAST(least(9, greatest(0,
                  floor(value / 50.0))) AS INTEGER) AS bucket
              FROM events WHERE ts >= TIMESTAMP '2024-01-16'
                AND value IS NOT NULL AND isfinite(value)),
        rc AS (SELECT bucket, count(*) AS n_ref FROM r GROUP BY 1),
        cc AS (SELECT bucket, count(*) AS n_cur FROM c GROUP BY 1),
        j AS (SELECT b.bucket, coalesce(rc.n_ref, 0) AS n_ref,
                     coalesce(cc.n_cur, 0) AS n_cur
              FROM b LEFT JOIN rc USING (bucket)
              LEFT JOIN cc USING (bucket)),
        t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j),
        -- an empty side has no distribution: NULL proportions, not a
        -- divide-by-zero (matches the operator's when(_tr > 0) guard)
        pq AS (SELECT bucket, n_ref, n_cur,
                      CASE WHEN tr > 0
                           THEN greatest(n_ref / tr, 1e-6) END AS p,
                      CASE WHEN tc > 0
                           THEN greatest(n_cur / tc, 1e-6) END AS q
               FROM j, t)
        SELECT bucket, n_ref, n_cur,
               round(p, 6) AS p_ref,
               round(q, 6) AS p_cur,
               round((q - p) * ln(q / p), 6) AS psi_term
        FROM pq
    """,
    # direct two-pass Σ(x−μ)(x−μ)ᵀ — equality proves the one-pass
    # Gram identity (raw XᵀX minus rank-1 mean correction)
    "embedding_gram_embeddings": """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
             pos AS (SELECT CAST(unnest(range(0, 64)) AS INTEGER) AS i),
             u AS (SELECT vec_id, i, v[i + 1] AS x FROM e, pos),
             m AS (SELECT i, avg(x) AS mu FROM u GROUP BY i)
        SELECT a.i, b.i AS j,
               round(sum((a.x - ma.mu) * (b.x - mb.mu)), 4) AS val
        FROM u a JOIN u b USING (vec_id)
        JOIN m ma ON ma.i = a.i JOIN m mb ON mb.i = b.i
        WHERE a.i <= b.i
        GROUP BY a.i, b.i
    """,
    # identical ratio margin recomputed from all-pairs cosine: top-k
    # averages per side, margin over the source's top-k candidates,
    # forward-best per source; mutual additionally requires the pair
    # in the target's own backward top-k (true intersection strategy)
    "margin_bitext_mine_embeddings": """
        WITH x AS (SELECT vec_id AS src_id, CAST(embedding AS DOUBLE[]) AS xv
                   FROM embeddings WHERE vec_id % 2 = 0),
             y AS (SELECT vec_id AS tgt_id, CAST(embedding AS DOUBLE[]) AS yv
                   FROM embeddings WHERE vec_id % 2 = 1),
             s AS (SELECT src_id, tgt_id,
                          round(list_cosine_similarity(xv, yv), 6) AS sim
                   FROM x CROSS JOIN y),
             fk AS (SELECT *, row_number() OVER (
                        PARTITION BY src_id ORDER BY sim DESC, tgt_id) AS r
                    FROM s),
             bk AS (SELECT *, row_number() OVER (
                        PARTITION BY tgt_id ORDER BY sim DESC, src_id) AS r
                    FROM s),
             ax AS (SELECT src_id, avg(sim) AS a_src
                    FROM fk WHERE r <= 4 GROUP BY src_id),
             ay AS (SELECT tgt_id, avg(sim) AS a_tgt
                    FROM bk WHERE r <= 4 GROUP BY tgt_id),
             cand AS (SELECT f.src_id, f.tgt_id, f.sim AS cosine_sim,
                             round(f.sim / ((ax.a_src + ay.a_tgt) / 2), 6)
                                 AS margin
                      FROM fk f JOIN ax USING (src_id) JOIN ay USING (tgt_id)
                      WHERE f.r <= 4),
             ranked AS (SELECT *,
                        row_number() OVER (PARTITION BY src_id
                            ORDER BY margin DESC, tgt_id) AS fr,
                        row_number() OVER (PARTITION BY tgt_id
                            ORDER BY margin DESC, src_id) AS br
                        FROM cand)
        SELECT r.src_id, r.tgt_id, r.cosine_sim, r.margin,
               (r.br = 1 AND bp.src_id IS NOT NULL) AS mutual
        FROM ranked r
        LEFT JOIN (SELECT tgt_id, src_id FROM bk WHERE r <= 4) bp
            ON bp.tgt_id = r.tgt_id AND bp.src_id = r.src_id
        WHERE r.fr = 1
    """,
    # MMR greedy selection unrolled as 4 list-state CTE steps: pick t
    # maximizes round(0.7*rel - (1-0.7)*maxsim(selected), 9) with ties
    # by lowest cand_id — the same deterministic contract as the
    # applyInPandas kernel; (1.0-0.7) is written as the expression so
    # both engines evaluate the identical IEEE double
    "mmr_rerank_embeddings": """
        WITH q AS (SELECT vec_id AS query_id,
                          CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings WHERE vec_id >= 100 AND vec_id < 130),
        cand AS (SELECT query_id, cand_id,
                        round(list_cosine_similarity(qv, cv), 6) AS rel
                 FROM q CROSS JOIN c),
        sims AS (SELECT a.cand_id AS i, b.cand_id AS j,
                        round(list_cosine_similarity(a.cv, b.cv), 9) AS s
                 FROM c a CROSS JOIN c b),
        p1 AS (SELECT query_id, cand_id, [cand_id] AS sel, score
               FROM (SELECT query_id, cand_id,
                            round(0.7 * rel, 9) AS score,
                            row_number() OVER (PARTITION BY query_id
                                ORDER BY round(0.7 * rel, 9) DESC,
                                         cand_id) AS r
                     FROM cand) WHERE r = 1),
        m2 AS (SELECT p.query_id, s.i AS cand_id, max(s.s) AS m
               FROM sims s JOIN p1 p ON list_contains(p.sel, s.j)
               GROUP BY 1, 2),
        p2 AS (SELECT t.query_id, t.cand_id,
                      list_append(p.sel, t.cand_id) AS sel, t.score
               FROM (SELECT cd.query_id, cd.cand_id,
                            round(0.7 * cd.rel - (1.0 - 0.7) * m.m, 9)
                                AS score,
                            row_number() OVER (PARTITION BY cd.query_id
                                ORDER BY round(0.7 * cd.rel
                                    - (1.0 - 0.7) * m.m, 9) DESC,
                                         cd.cand_id) AS r
                     FROM cand cd
                     JOIN m2 m ON m.query_id = cd.query_id
                              AND m.cand_id = cd.cand_id
                     JOIN p1 p0 ON p0.query_id = cd.query_id
                     WHERE NOT list_contains(p0.sel, cd.cand_id)) t
               JOIN p1 p ON p.query_id = t.query_id
               WHERE t.r = 1),
        m3 AS (SELECT p.query_id, s.i AS cand_id, max(s.s) AS m
               FROM sims s JOIN p2 p ON list_contains(p.sel, s.j)
               GROUP BY 1, 2),
        p3 AS (SELECT t.query_id, t.cand_id,
                      list_append(p.sel, t.cand_id) AS sel, t.score
               FROM (SELECT cd.query_id, cd.cand_id,
                            round(0.7 * cd.rel - (1.0 - 0.7) * m.m, 9)
                                AS score,
                            row_number() OVER (PARTITION BY cd.query_id
                                ORDER BY round(0.7 * cd.rel
                                    - (1.0 - 0.7) * m.m, 9) DESC,
                                         cd.cand_id) AS r
                     FROM cand cd
                     JOIN m3 m ON m.query_id = cd.query_id
                              AND m.cand_id = cd.cand_id
                     JOIN p2 p0 ON p0.query_id = cd.query_id
                     WHERE NOT list_contains(p0.sel, cd.cand_id)) t
               JOIN p2 p ON p.query_id = t.query_id
               WHERE t.r = 1),
        m4 AS (SELECT p.query_id, s.i AS cand_id, max(s.s) AS m
               FROM sims s JOIN p3 p ON list_contains(p.sel, s.j)
               GROUP BY 1, 2),
        p4 AS (SELECT t.query_id, t.cand_id,
                      list_append(p.sel, t.cand_id) AS sel, t.score
               FROM (SELECT cd.query_id, cd.cand_id,
                            round(0.7 * cd.rel - (1.0 - 0.7) * m.m, 9)
                                AS score,
                            row_number() OVER (PARTITION BY cd.query_id
                                ORDER BY round(0.7 * cd.rel
                                    - (1.0 - 0.7) * m.m, 9) DESC,
                                         cd.cand_id) AS r
                     FROM cand cd
                     JOIN m4 m ON m.query_id = cd.query_id
                              AND m.cand_id = cd.cand_id
                     JOIN p3 p0 ON p0.query_id = cd.query_id
                     WHERE NOT list_contains(p0.sel, cd.cand_id)) t
               JOIN p3 p ON p.query_id = t.query_id
               WHERE t.r = 1)
        SELECT query_id, cand_id, CAST(1 AS INTEGER) AS mmr_rank,
               score AS mmr_score FROM p1
        UNION ALL SELECT query_id, cand_id, CAST(2 AS INTEGER), score FROM p2
        UNION ALL SELECT query_id, cand_id, CAST(3 AS INTEGER), score FROM p3
        UNION ALL SELECT query_id, cand_id, CAST(4 AS INTEGER), score FROM p4
    """,
    # exact ground truth for hard negatives: all-pairs cosine with a
    # label-mismatch filter, ranked (sim 6dp DESC, id ASC) per query
    "hard_negatives_embeddings": """
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
                          label AS ql
                   FROM embeddings WHERE vec_id < 20),
             c AS (SELECT vec_id AS neg_id, CAST(embedding AS DOUBLE[]) AS cv,
                          label AS cl
                   FROM embeddings),
             s AS (SELECT query_id, neg_id,
                          round(list_cosine_similarity(qv, cv), 6) AS cosine_sim
                   FROM q CROSS JOIN c WHERE ql <> cl)
        SELECT query_id, neg_id, cosine_sim, rank
        FROM (SELECT *, CAST(row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY cosine_sim DESC, neg_id) AS INTEGER) AS rank
              FROM s)
        WHERE rank <= 3
    """,
    # decode-vs-regenerate: the WAV payload's PCM samples are a pure
    # function of doc_id, so the oracle recomputes the series
    # arithmetically — no binary parsing — and integer aggregates must
    # hash-match Spark's frombuffer decode exactly
    "pcm_decode_stats_docs": """
        WITH d AS (SELECT doc_id, 64 + (doc_id % 64) AS n
                   FROM documents WHERE doc_id < 200),
        s AS (SELECT doc_id,
                     ((doc_id * 31 + unnest(range(0, n)) * 17) % 4096)
                         - 2048 AS v
              FROM d)
        SELECT doc_id, count(*) AS n_samples,
               CAST(sum(v) AS BIGINT) AS sum_val,
               CAST(sum(v * v) AS BIGINT) AS sum_sq,
               CAST(min(v) AS BIGINT) AS min_val,
               CAST(max(v) AS BIGINT) AS max_val
        FROM s GROUP BY doc_id
    """,
    # pairwise-complete ACF: corr(x, lag(x,k)) over the hourly series —
    # identical estimator both engines, rounded to 4dp
    "acf_hourly_events": """
        WITH s AS (SELECT event_type, date_trunc('hour', ts) AS h,
                          count(*) AS c
                   FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        l AS (SELECT event_type, c,
                     lag(c, 1) OVER w AS l1,
                     lag(c, 2) OVER w AS l2,
                     lag(c, 3) OVER w AS l3
              FROM s WINDOW w AS (PARTITION BY event_type ORDER BY h))
        SELECT event_type, count(c) AS n,
               round(corr(c, l1), 4) AS acf_1,
               round(corr(c, l2), 4) AS acf_2,
               round(corr(c, l3), 4) AS acf_3
        FROM l GROUP BY event_type
    """,
    # CUSUM peak: |n*run - t*total| is integer-exact (mean's division
    # scaled out), so argmax + earliest-tie-break match bit-for-bit
    "cusum_changepoint_events": """
        WITH s AS (SELECT event_type, date_trunc('hour', ts) AS h,
                          count(*) AS c
                   FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        e AS (SELECT event_type, h,
                     count(*) OVER (PARTITION BY event_type) AS n_points,
                     sum(c) OVER (PARTITION BY event_type) AS tot,
                     sum(c) OVER (PARTITION BY event_type ORDER BY h
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS run,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY h) AS t
              FROM s),
        d AS (SELECT event_type, h,
                     abs(n_points * run - t * tot) AS dev, n_points,
                     row_number() OVER (
                         PARTITION BY event_type
                         ORDER BY abs(n_points * run - t * tot) DESC, h
                     ) AS pick
              FROM e)
        SELECT event_type, h AS cp_hour, CAST(dev AS BIGINT) AS max_dev,
               n_points
        FROM d WHERE pick = 1
    """,
    # vocab coverage: rank on the aggregated type table, integer
    # threshold comparisons (run*k >= total*j) for engine-stable
    # boundary classification
    "vocab_coverage_docs": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
        freqs AS (SELECT tok, count(*) AS c
                  FROM (SELECT unnest(ts) AS tok FROM toks) GROUP BY tok),
        ranked AS (SELECT c, tok,
                          row_number() OVER w AS r,
                          sum(c) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS run,
                          sum(c) OVER () AS total
                   FROM freqs
                   WINDOW w AS (ORDER BY c DESC, tok ASC))
        SELECT count(*) AS n_types,
               CAST(max(total) AS BIGINT) AS n_tokens,
               min(CASE WHEN run * 2 >= total THEN r END) AS v50,
               min(CASE WHEN run * 10 >= total * 9 THEN r END) AS v90,
               min(CASE WHEN run * 100 >= total * 99 THEN r END) AS v99
        FROM ranked
    """,
    # independent recomputation of the portable table checksum: the
    # same md5-prefix row values summed mod 2^61-1, emitted under both
    # derivation labels (the checksum is order-insensitive, so one SQL
    # aggregate covers both Spark plans)
    "reconcile_fingerprint_orders": r"""
        WITH fp AS (
            SELECT count(*) AS n_rows,
                   CAST(sum(('0x' || substring(md5(
                       concat_ws('|',
                           coalesce(CAST(o_orderkey AS VARCHAR), '\N'),
                           coalesce(CAST(o_custkey AS VARCHAR), '\N'),
                           coalesce(CAST(o_orderstatus AS VARCHAR), '\N')
                       )), 1, 15))::UBIGINT::HUGEINT)
                       % 2305843009213693951 AS BIGINT) AS fingerprint
            FROM orders
        )
        SELECT 'direct' AS derivation, n_rows, fingerprint FROM fp
        UNION ALL
        SELECT 'split_union', n_rows, fingerprint FROM fp
    """,
    # bloom pre-pass is exact (every maybe verified), so the oracle is
    # the plain NOT EXISTS anti-join aggregate
    "bloom_anti_join_lineitem": """
        SELECT l_returnflag,
               count(*) AS n_rows,
               CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        FROM lineitem l
        WHERE NOT EXISTS (
            SELECT 1 FROM part p
            WHERE p.p_partkey = l.l_partkey AND p.p_size > 40
        )
        GROUP BY l_returnflag
    """,
    # prefix-filter set-similarity join: exact recall by theorem, so
    # the oracle is the same exact all-pairs trigram Jaccard ground
    # truth minhash_near_dup is checked against (two candidate
    # strategies, one verified set)
    "set_similarity_join_docs": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
        grams AS (SELECT doc_id, list_distinct(list(gram)) AS g
                  FROM ({_GRAMS3}) GROUP BY doc_id)
        SELECT id_a, id_b, round(raw_sim, 4) AS jaccard_sim
        FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                       / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
                       AS raw_sim
            FROM grams a JOIN grams b ON a.doc_id < b.doc_id
        )
        WHERE raw_sim >= 0.3
    """,
    # ivf_ann_topk probes enough cells on this dataset that its result
    # equals the exact brute-force top-k — the oracle IS the exact scan,
    # so a green row proves recall 1.0 at the declared (k, nprobe).
    "ivf_ann_topk": """
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
                   FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id,
               round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 6)
                   AS cosine_sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY cosine_sim DESC, e.vec_id
        LIMIT 10
    """,
    # PQ/ADC is lossy, but the rerank funnel's output equals the exact
    # top-10 whenever the ADC shortlist covers every true neighbour
    # (shortlist=250 of 499 here; verified recall 1.0 at both SFs) —
    # so the oracle is the plain exact L2 scan, hash-matched on
    # integer (rank, vec_id) to dodge cross-engine float formatting.
    "pq_ann_topk": """
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
                   FROM embeddings WHERE vec_id = 0)
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY
                   list_distance(CAST(e.embedding AS DOUBLE[]), q.qe) ASC,
                   e.vec_id) AS INTEGER) AS rank,
               e.vec_id
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY rank
        LIMIT 10
    """,
    # the HLL estimate itself is engine-specific; the contract checked
    # cross-engine is the exact count plus a 5% relative-error bound.
    "approx_distinct_parts": """
        SELECT count(DISTINCT l_partkey) AS exact_parts,
               CASE WHEN count(DISTINCT l_partkey) > 0
                    THEN true END        AS within_5pct
        FROM lineitem
    """,
    # line-level (8-word-segment) boilerplate dedup: segments occurring
    # in >= 2 distinct docs are dropped, survivors reassembled in order.
    # variance + least-squares aggregate family on scaled columns
    "stats_regression_orders": """
        WITH d AS (
            SELECT o_orderstatus,
                   o_totalprice / 100000.0 AS s,
                   o_orderkey::DOUBLE / 100000.0 AS k
            FROM orders
        )
        SELECT o_orderstatus,
               round(var_pop(s), 6)           AS vpop,
               round(var_samp(s), 6)          AS vsamp,
               round(stddev_samp(s), 6)       AS sd,
               round(corr(s, k), 6)           AS c,
               round(regr_slope(s, k), 6)     AS slope,
               round(regr_intercept(s, k), 6) AS icept,
               round(regr_r2(s, k), 6)        AS r2,
               regr_count(s, k)               AS n
        FROM d GROUP BY o_orderstatus
    """,
    # keep the longest copy per normalized-content group
    "dedup_keep_best_docs": """
        SELECT doc_id, n_chars
        FROM (
            SELECT doc_id, n_chars,
                   row_number() OVER (
                       PARTITION BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))
                       ORDER BY length(text) DESC, doc_id
                   ) AS rn
            FROM documents
        )
        WHERE rn = 1
    """,
    # top-20 heaviest keys with share and cumulative share
    "skew_report_events": """
        WITH tot AS (SELECT count(*) AS t FROM events),
        top AS (
            SELECT user_id, count(*) AS n
            FROM events GROUP BY user_id
            ORDER BY n DESC, user_id LIMIT 20
        )
        SELECT user_id, n,
               round(n / (SELECT t::DOUBLE FROM tot), 6) AS share,
               round(sum(n) OVER (ORDER BY n DESC, user_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)
                     / (SELECT t::DOUBLE FROM tot), 6) AS cum_share,
               CAST(row_number() OVER (ORDER BY n DESC, user_id)
                    AS INTEGER) AS rank
        FROM top
    """,
    # per-doc char distribution -> Shannon entropy (bits/char)
    "char_entropy_docs": """
        WITH chars AS (
            SELECT doc_id AS id, unnest(string_split(text, '')) AS c
            FROM documents
        ),
        k AS (SELECT id, c, count(*) AS k
              FROM chars WHERE c <> '' GROUP BY id, c)
        SELECT id,
               sum(k) AS n_chars,
               round(log2(sum(k)) - sum(k * log2(k)) / sum(k), 4)
                   AS entropy_bits
        FROM k GROUP BY id
    """,
    # per-doc distinct 3-grams; novelty = share with corpus df == 1
    "ngram_novelty_docs": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
        g AS (SELECT DISTINCT doc_id, gram FROM ({_GRAMS3})),
        dfq AS (SELECT gram, count(DISTINCT doc_id) AS gdf
                FROM g GROUP BY gram)
        SELECT doc_id AS id,
               count(*) AS n_grams,
               CAST(sum(CASE WHEN gdf = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_novel,
               round(sum(CASE WHEN gdf = 1 THEN 1 ELSE 0 END)::DOUBLE
                     / count(*), 4) AS novelty
        FROM g JOIN dfq USING (gram)
        GROUP BY doc_id
    """,
    # exact linear-interpolation percentiles (quantile_cont == Spark
    # percentile)
    "percentile_family_orders": """
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
               round(quantile_cont(o_totalprice, 0.5),  2) AS p50,
               round(quantile_cont(o_totalprice, 0.9),  2) AS p90,
               round(avg(o_totalprice), 2)                 AS mean
        FROM orders GROUP BY o_orderstatus
    """,
    # hourly spine per user + forward fill of gap hours
    "resample_ffill_events": """
        WITH ev AS (SELECT user_id, date_trunc('hour', ts) AS h, value
                    FROM events WHERE user_id < 20),
        hourly AS (SELECT user_id, h, round(avg(value), 4) AS v
                   FROM ev GROUP BY user_id, h),
        -- clamp: at most 90 days (2160 h) of spine per user,
        -- anchored at the latest hour (matches the operator's
        -- bounded-state contract)
        bounds AS (SELECT user_id,
                          greatest(min(h), max(h) - INTERVAL 2160 HOURS)
                              AS h0,
                          max(h) AS h1
                   FROM ev GROUP BY user_id),
        spine AS (SELECT user_id,
                         unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
                  FROM bounds),
        j AS (SELECT s.user_id, s.h, hourly.v
              FROM spine s LEFT JOIN hourly USING (user_id, h))
        SELECT user_id, h,
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled,
               v IS NULL AS is_gap
        FROM j
    """,
    # sliding 8-token windows in >=2 distinct docs -> covered token
    # positions removed, docs reassembled from survivors in order
    "substring_dedup_docs": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
        w AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 8 + 2)) AS p
              FROM toks WHERE len(ts) >= 8),
        g AS (SELECT doc_id, p, array_to_string(ts[p : p + 7], ' ') AS gram
              FROM w),
        dup AS (SELECT gram FROM g GROUP BY gram
                HAVING count(DISTINCT doc_id) >= 2),
        cov AS (SELECT DISTINCT doc_id, pos FROM (
                    SELECT doc_id, unnest(range(p, p + 8)) AS pos
                    FROM g JOIN dup USING (gram))),
        t AS (SELECT doc_id, unnest(ts) AS tok,
                     unnest(range(1, len(ts) + 1)) AS pos
              FROM toks),
        kept AS (SELECT doc_id, count(*) AS n_kept,
                        string_agg(tok, ' ' ORDER BY pos) AS clean_text
                 FROM t ANTI JOIN cov USING (doc_id, pos)
                 GROUP BY doc_id)
        SELECT toks.doc_id AS id,
               CAST(len(ts) AS INTEGER) AS n_tokens,
               CAST(len(ts) - coalesce(n_kept, 0) AS INTEGER) AS n_removed,
               coalesce(clean_text, '') AS clean_text
        FROM toks LEFT JOIN kept ON toks.doc_id = kept.doc_id
    """,
    "line_dedup_docs": """
        WITH w AS (
            SELECT doc_id, word,
                   CAST(row_number() OVER (
                       PARTITION BY doc_id ORDER BY ord) - 1 AS INT) AS idx
            FROM (
                SELECT doc_id, unnest(ws) AS word,
                       unnest(range(1, len(ws) + 1)) AS ord
                FROM (SELECT doc_id,
                             string_split_regex(text, '\\s+') AS ws
                      FROM documents)
            )
            WHERE word <> ''
        ),
        seg AS (
            SELECT doc_id, CAST(idx // 8 AS INT) AS seg_id,
                   string_agg(word, ' ' ORDER BY idx) AS segment
            FROM w GROUP BY doc_id, idx // 8
        ),
        segn AS (
            SELECT *, lower(trim(segment)) AS seg_norm FROM seg
            WHERE length(trim(segment)) > 0
        ),
        freq AS (
            SELECT seg_norm, count(DISTINCT doc_id) AS seg_docs
            FROM segn GROUP BY seg_norm
        ),
        kept AS (
            SELECT s.doc_id, count(*) AS kept_segments,
                   string_agg(s.segment, ' ' ORDER BY s.seg_id) AS clean_text
            FROM segn s JOIN freq f USING (seg_norm)
            WHERE f.seg_docs < 2
            GROUP BY s.doc_id
        ),
        totals AS (
            SELECT doc_id, count(*) AS n_segments FROM segn GROUP BY doc_id
        )
        SELECT t.doc_id,
               t.n_segments,
               coalesce(k.kept_segments, 0)                  AS kept_segments,
               t.n_segments - coalesce(k.kept_segments, 0)   AS dropped_segments,
               coalesce(k.clean_text, '')                    AS clean_text
        FROM totals t LEFT JOIN kept k USING (doc_id)
    """,
    # deterministic per-domain cap: md5-ordered top-15 per source.
    "cap_per_source_docs": """
        WITH ranked AS (
            SELECT doc_id, source,
                   CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY ('0x' || substring(md5('cap:'
                           || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT,
                                doc_id) AS INT) AS pick_rank
            FROM documents
        )
        SELECT doc_id, source, pick_rank FROM ranked WHERE pick_rank <= 15
    """,
    # full streaming CorpusPrep parity: lang filter -> quality gate ->
    # exact dedup (one rep per distinct text among filter survivors) ->
    # 40/30 chunking. doc_id projected away (arrival-order dependent);
    # chunks are a pure function of the surviving text.
    # streaming near-dup intake survivor set: with monotone ids across
    # batches, a doc survives iff NO smaller-id doc is >=0.3 similar
    "stream_near_dup_intake_parity": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS ts
                      FROM documents WHERE doc_id < 300),
        grams AS (SELECT doc_id, list_distinct(list(gram)) AS g
                  FROM ({_GRAMS3}) GROUP BY doc_id),
        dropped AS (
            SELECT DISTINCT greatest(a.doc_id, b.doc_id) AS doc_id
            FROM grams a JOIN grams b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                      / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
                  >= 0.3
        )
        SELECT d.doc_id
        FROM documents d
        WHERE d.doc_id < 300
          AND d.doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
    # cross-batch transitive blocking: the derived corpus (base +
    # suffix-75% + suffix-55% variants, monotone ids across the three
    # micro-batches) has its survivor set defined declaratively — a doc
    # survives iff NO smaller-id doc is >= 0.65 similar, counting docs
    # that were themselves dropped. The constructed chains (base blocks
    # variant-1, variant-1 blocks variant-2, base does NOT block
    # variant-2) make the stream's dropped-doc store load-bearing.
    "stream_near_dup_chain_parity": f"""
        WITH base AS (SELECT doc_id, {_TOKENS} AS bts
                      FROM documents WHERE doc_id < 60),
        corpus AS (
            SELECT doc_id, bts AS ts FROM base
            UNION ALL
            SELECT doc_id + 1000,
                   list_slice(bts, CAST(floor(len(bts)*0.25) AS INT) + 1,
                              len(bts))
            FROM base
            UNION ALL
            SELECT doc_id + 2000,
                   list_slice(bts, CAST(floor(len(bts)*0.45) AS INT) + 1,
                              len(bts))
            FROM base
        ),
        toks AS (SELECT doc_id, ts FROM corpus),
        grams AS (SELECT doc_id, list_distinct(list(gram)) AS g
                  FROM ({_GRAMS3}) GROUP BY doc_id),
        dropped AS (
            SELECT DISTINCT greatest(a.doc_id, b.doc_id) AS doc_id
            FROM grams a JOIN grams b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                      / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE)
                  >= 0.65
        )
        SELECT c.doc_id
        FROM corpus c
        WHERE c.doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
    "stream_corpus_prep_parity": f"""
        WITH keep AS (
            SELECT min(doc_id) AS doc_id
            FROM documents
            WHERE doc_id < 200 AND lang IN ('en', 'es')
            GROUP BY md5(text)
        ),
        toks AS (
            SELECT d.doc_id, {_TOKENS} AS ts
            FROM documents d JOIN keep USING (doc_id)
        ),
        scored AS (
            SELECT doc_id, ts,
                   ((CASE WHEN len(ts) BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END)
                    + (CASE WHEN CAST(len(list_distinct(ts)) AS DOUBLE)
                                 / greatest(CAST(len(ts) AS DOUBLE), 1.0) >= 0.2
                            THEN 1.0
                            ELSE (CAST(len(list_distinct(ts)) AS DOUBLE)
                                  / greatest(CAST(len(ts) AS DOUBLE), 1.0)) / 0.2 END)
                    + (CASE WHEN CAST(len(list_filter(ts,
                                 x -> list_contains({STOPWORDS_SQL}, x))) AS DOUBLE)
                                 / greatest(CAST(len(ts) AS DOUBLE), 1.0)
                                 BETWEEN 0.01 AND 0.6
                            THEN 1.0 ELSE 0.5 END)) / 3.0 AS quality
            FROM toks
        ),
        starts AS (
            SELECT doc_id, ts,
                   unnest(range(0, greatest(len(ts), 1), 30)) AS s
            FROM scored WHERE quality >= 0.5
        )
        SELECT CAST(s // 30 AS INTEGER) AS chunk_id,
               CAST(len(list_slice(ts, s + 1, s + 40)) AS INTEGER)
                   AS n_chunk_tokens,
               array_to_string(list_slice(ts, s + 1, s + 40), ' ') AS chunk
        FROM starts
        WHERE len(list_slice(ts, s + 1, s + 40)) > 0
    """,
    # intra-doc segment dedup: first occurrence per normalized segment.
    "line_dedup_within_doc": """
        WITH w AS (
            SELECT doc_id, word,
                   CAST(row_number() OVER (
                       PARTITION BY doc_id ORDER BY ord) - 1 AS INT) AS idx
            FROM (
                SELECT doc_id, unnest(ws) AS word,
                       unnest(range(1, len(ws) + 1)) AS ord
                FROM (SELECT doc_id,
                             string_split_regex(text, '\\s+') AS ws
                      FROM documents)
            )
            WHERE word <> ''
        ),
        seg AS (
            SELECT doc_id, CAST(idx // 8 AS INT) AS seg_id,
                   string_agg(word, ' ' ORDER BY idx) AS segment
            FROM w GROUP BY doc_id, idx // 8
        ),
        segn AS (
            SELECT *, lower(trim(segment)) AS seg_norm,
                   row_number() OVER (
                       PARTITION BY doc_id, lower(trim(segment))
                       ORDER BY seg_id) AS occ
            FROM seg WHERE length(trim(segment)) > 0
        )
        SELECT doc_id,
               count(*) AS n_segments,
               sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS kept_segments,
               count(*) - sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END)
                   AS dropped_segments,
               string_agg(CASE WHEN occ = 1 THEN segment END,
                          ' ' ORDER BY seg_id) AS clean_text
        FROM segn GROUP BY doc_id
    """,
    # exact distinct via mergeable bitmaps == plain COUNT(DISTINCT).
    "bitmap_distinct_rollup": """
        SELECT n.n_name, count(DISTINCT c.c_custkey) AS distinct_customers
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        UNION ALL
        SELECT 'ALL' AS n_name, count(DISTINCT c_custkey) AS distinct_customers
        FROM customer
    """,
    # parse_url/url_decode twin: rebuild the same parts with regexes on
    # the identically-synthesized URL string.
    "url_functions_docs": """
        WITH d AS (
            SELECT doc_id,
                   'https://' || source || '.example.com/' || lang
                     || '/doc-' || CAST(doc_id AS VARCHAR)
                     || '?ref=a%20b&page=' || CAST(doc_id % 7 AS VARCHAR)
                     || '#frag' AS url
            FROM documents WHERE doc_id < 300
        )
        SELECT doc_id, url,
               regexp_extract(url, 'https://([^/]+)/', 1)     AS host,
               regexp_extract(url, 'https://[^/]+(/[^?#]*)', 1) AS path,
               regexp_extract(url, '[?&]page=([^&#]*)', 1)    AS page_param,
               replace(regexp_extract(url, '[?&]ref=([^&#]*)', 1),
                       '%20', ' ')                            AS ref_decoded,
               regexp_extract(url, '#(.*)$', 1)               AS fragment
        FROM d
    """,
    # Gopher quality rules per source; gate params min_words=30,
    # min_required_hits=1 (see queries.gopher_quality_docs).
    "gopher_quality_docs": """
        WITH m AS (
            -- nulldoc: a NULL-text doc has NULL measures and NULL rule
            -- verdicts on Spark — counted in n_docs, excluded from
            -- every fail count, n_pass, and the avg (fuzz find)
            SELECT source,
                   text IS NULL AS nulldoc,
                   len(ws) AS n_words,
                   -- coalesce: sum of an EMPTY list is NULL in DuckDB
                   -- but the operator's fold yields 0.0 (a NULL here
                   -- silently drops empty docs from the avg — fuzz find)
                   CASE WHEN text IS NULL THEN NULL ELSE
                   round(coalesce(list_aggregate(
                       list_transform(ws, w -> CAST(len(w) AS DOUBLE)),
                       'sum'), 0)
                       / greatest(len(ws), 1), 4) END AS mean_word_len,
                   (len(regexp_extract_all(text, '#'))
                    + len(regexp_extract_all(text, '\\.\\.\\.')))
                       / CAST(greatest(len(ws), 1) AS DOUBLE) AS symbol_ratio,
                   len(list_filter(ws, w -> lower(w) <> upper(w)))
                       / CAST(greatest(len(ws), 1) AS DOUBLE) AS alpha_frac,
                   len(list_intersect(
                       list_distinct(list_transform(ws, w -> lower(w))),
                       ['the','be','to','of','and','that','have','with']))
                       AS required_hits,
                   len(list_filter(lns, l -> regexp_matches(trim(l), '^[-*•]')))
                       / CAST(greatest(len(lns), 1) AS DOUBLE) AS bullet_frac,
                   len(list_filter(lns,
                       l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))
                       / CAST(greatest(len(lns), 1) AS DOUBLE) AS ellipsis_frac
            FROM (
                SELECT source, text,
                       list_filter(string_split_regex(text, '\\s+'),
                                   w -> w <> '') AS ws,
                       list_filter(string_split(text, chr(10)),
                                   l -> length(trim(l)) > 0) AS lns
                FROM documents
            )
        ),
        r AS (
            SELECT source, mean_word_len,
                   CASE WHEN nulldoc THEN NULL
                        WHEN n_words BETWEEN 30 AND 100000 THEN 1
                        ELSE 0 END AS ok_wc,
                   CASE WHEN nulldoc THEN NULL
                        WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1
                        ELSE 0 END AS ok_mwl,
                   CASE WHEN nulldoc THEN NULL
                        WHEN round(symbol_ratio, 4) <= 0.1 THEN 1
                        ELSE 0 END AS ok_sym,
                   CASE WHEN nulldoc THEN NULL
                        WHEN round(alpha_frac, 4) >= 0.8 THEN 1
                        ELSE 0 END AS ok_alpha,
                   CASE WHEN nulldoc THEN NULL
                        WHEN required_hits >= 1 THEN 1
                        ELSE 0 END AS ok_req,
                   CASE WHEN nulldoc THEN NULL
                        WHEN round(bullet_frac, 4) <= 0.9
                         AND round(ellipsis_frac, 4) <= 0.3 THEN 1
                        ELSE 0 END AS ok_line
            FROM m
        )
        SELECT source,
               count(*)                       AS n_docs,
               sum(1 - ok_wc)                 AS fail_word_count,
               sum(1 - ok_mwl)                AS fail_mean_word_len,
               sum(1 - ok_sym)                AS fail_symbol_ratio,
               sum(1 - ok_alpha)              AS fail_alpha_words,
               sum(1 - ok_req)                AS fail_required_words,
               sum(1 - ok_line)               AS fail_line_shape,
               sum(ok_wc * ok_mwl * ok_sym * ok_alpha * ok_req * ok_line) AS n_pass,
               round(avg(mean_word_len), 4)   AS avg_mean_word_len
        FROM r GROUP BY source
    """,
    # C4 line cleaning on 8-word segments: keep >=5-word segments not
    # containing 'customer'; drop docs left with <3 kept segments.
    "c4_clean_docs": """
        WITH w AS (
            SELECT doc_id, word,
                   CAST(row_number() OVER (
                       PARTITION BY doc_id ORDER BY ord) - 1 AS INT) AS idx
            FROM (
                SELECT doc_id, unnest(ws) AS word,
                       unnest(range(1, len(ws) + 1)) AS ord
                FROM (SELECT doc_id,
                             string_split_regex(text, '\\s+') AS ws
                      FROM documents)
            )
            WHERE word <> ''
        ),
        seg AS (
            SELECT doc_id, CAST(idx // 8 AS INT) AS seg_id,
                   string_agg(word, ' ' ORDER BY idx) AS segment
            FROM w GROUP BY doc_id, idx // 8
        ),
        flag AS (
            SELECT doc_id, seg_id, segment,
                   CASE WHEN len(list_filter(
                            string_split_regex(trim(segment), '\\s+'),
                            x -> x <> '')) >= 5
                         AND NOT contains(lower(trim(segment)), 'customer')
                        THEN 1 ELSE 0 END AS keep
            FROM seg WHERE length(trim(segment)) > 0
        )
        SELECT doc_id,
               count(*)                AS n_segments,
               sum(keep)               AS kept_segments,
               count(*) - sum(keep)    AS dropped_segments,
               coalesce(string_agg(CASE WHEN keep = 1 THEN segment END,
                                   ' ' ORDER BY seg_id), '') AS clean_text
        FROM flag
        GROUP BY doc_id
        HAVING sum(keep) >= 3
    """,
    # stream-stream interval join parity: clicks x same-user purchases
    # within 30 minutes.
    "stream_join_parity": """
        SELECT c.user_id,
               c.event_id AS click_id,
               p.event_id AS purchase_id
        FROM events c
        JOIN events p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 30 MINUTE
        WHERE c.event_type = 'click'
          AND p.event_type = 'purchase'
    """,
    # ORC/CSV/JSON roundtrip: each leg must equal the direct aggregate.
    "format_roundtrip_agg": """
        WITH base AS (
            SELECT count(*) AS n_rows,
                   sum(CAST(round(o_totalprice, 2) AS DECIMAL(12,2)))
                       AS total_price,
                   count(DISTINCT o_orderstatus) AS n_status
            FROM orders WHERE o_orderkey < 5000
        )
        SELECT 'orc' AS fmt, n_rows, total_price, n_status FROM base
        UNION ALL
        SELECT 'csv', n_rows, total_price, n_status FROM base
        UNION ALL
        SELECT 'json', n_rows, total_price, n_status FROM base
        UNION ALL
        SELECT 'xml', n_rows, total_price, n_status FROM base
    """,
    # identical recursion in DuckDB ('//' is its integer division).
    "recursive_cte_rollup": """
        WITH RECURSIVE h(p_partkey, root, depth) AS (
          SELECT p_partkey, p_partkey, 0 FROM part WHERE p_partkey < 10
          UNION ALL
          SELECT p.p_partkey, h.root, h.depth + 1
          FROM part p JOIN h ON p.p_partkey // 10 = h.p_partkey
          WHERE p.p_partkey >= 10
        )
        SELECT depth,
               count(*)       AS n_parts,
               sum(root)      AS sum_roots,
               min(p_partkey) AS min_key,
               max(p_partkey) AS max_key
        FROM h GROUP BY depth
    """,
    # approx_top_k is exact when ndv <= maxItemsTracked.
    "approx_topk_orders": """
        SELECT o_orderpriority AS priority, count(*) AS n_orders
        FROM orders GROUP BY o_orderpriority
    """,
    # BM25 closed form: idf = ln((N-df+.5)/(df+.5)+1),
    # score = sum_t idf_t * tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)).
    "bm25_search_docs": """
        WITH base AS (
            SELECT doc_id,
                   list_transform(list_filter(
                       string_split_regex(text, '\\s+'), w -> w <> ''),
                       w -> lower(w)) AS ws
            FROM documents
        ),
        d AS (
            SELECT doc_id, ws, len(ws) AS doc_len,
                   CAST(len(list_filter(ws, w -> w = 'spark'))  AS DOUBLE) AS tf0,
                   CAST(len(list_filter(ws, w -> w = 'window')) AS DOUBLE) AS tf1,
                   CAST(len(list_filter(ws, w -> w = 'merge'))  AS DOUBLE) AS tf2
            FROM base
        ),
        s AS (
            SELECT count(*) AS n, avg(doc_len) AS avgdl,
                   sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                   sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                   sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
            FROM d
        )
        SELECT doc_id, doc_len,
               round(
                 ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * tf0 * 2.2
                   / (tf0 + 1.2 * (0.25 + 0.75 * doc_len / avgdl))
               + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * tf1 * 2.2
                   / (tf1 + 1.2 * (0.25 + 0.75 * doc_len / avgdl))
               + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * tf2 * 2.2
                   / (tf2 + 1.2 * (0.25 + 0.75 * doc_len / avgdl)), 4)
                 AS score
        FROM d, s
        ORDER BY score DESC, doc_id
        LIMIT 20
    """,
    # feature-hashing embedding: bucket = h%64, sign = bit 32 of h,
    # L2-normalized per doc; long format.
    "hashed_embedding_docs": """
        WITH toks AS (
            SELECT doc_id AS id,
                   ('0x' || substring(md5(lower(w)), 1, 15))::UBIGINT AS h
            FROM (
                SELECT doc_id, unnest(list_filter(
                    string_split_regex(text, '\\s+'), w -> w <> '')) AS w
                FROM documents WHERE doc_id < 300
            )
        ),
        signed AS (
            SELECT id, CAST(h % 64 AS INT) AS dim,
                   CAST(CAST((h >> 32) % 2 AS BIGINT) * 2 - 1 AS DOUBLE)
                       AS sign
            FROM toks
        ),
        sums AS (
            SELECT id, dim, sum(sign) AS v FROM signed GROUP BY id, dim
        )
        SELECT id, dim,
               round(v / greatest(sqrt(sum(v * v) OVER (PARTITION BY id)),
                                  1e-12), 6) AS value
        FROM sums
    """,
    # try_* family: NULL instead of ANSI errors.
    "try_functions_orders": """
        SELECT o_orderkey,
               o_totalprice / nullif(o_orderkey % 3, 0) AS div_or_null,
               TRY_CAST(regexp_extract(o_orderpriority, '^(\\d+)', 1)
                        AS INT)                          AS prio_num,
               TRY_CAST(o_orderstatus AS INT)            AS status_as_int,
               string_split(o_orderpriority, '-')[2]     AS prio_word
        FROM orders WHERE o_orderkey < 2000
    """,
    # cohort retention: first-seen week per user, then cohort x offset.
    "cohort_retention_events": """
        WITH ev AS (
            SELECT user_id,
                   CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
            FROM events
        ),
        first AS (
            SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id
        )
        SELECT f.cohort_wk,
               CAST(floor((epoch(e.wk) - epoch(f.cohort_wk))
                          / (7 * 86400)) AS INT) AS week_offset,
               count(DISTINCT e.user_id) AS n_active
        FROM ev e JOIN first f USING (user_id)
        GROUP BY f.cohort_wk, week_offset
    """,
    # corpus bigram LM: P(w2|w1)=(c12+0.5)/(c1+0.5*V), score=avg ln P.
    "bigram_lm_score_docs": """
        WITH ws AS (
            SELECT doc_id AS id,
                   list_transform(list_filter(
                       string_split_regex(text, '\\s+'), w -> w <> ''),
                       w -> lower(w)) AS ws
            FROM documents WHERE doc_id < 300
        ),
        grams AS (
            SELECT id, ws[i] AS w1, ws[i + 1] AS w2
            FROM ws, unnest(range(1, greatest(len(ws), 2))) AS t(i)
        ),
        c12 AS (SELECT w1, w2, count(*) AS c12 FROM grams GROUP BY w1, w2),
        c1  AS (SELECT w1, count(*) AS c1 FROM grams GROUP BY w1),
        v   AS (SELECT count(DISTINCT w1) AS v FROM grams)
        SELECT g.id,
               count(*) AS n_bigrams,
               round(avg(ln((c12.c12 + 0.5) / (c1.c1 + 0.5 * v.v))), 4)
                   AS lm_score
        FROM grams g
        JOIN c12 USING (w1, w2)
        JOIN c1 USING (w1), v
        GROUP BY g.id
    """,
    # persisted-model serving path: trained on and scored over the same
    # slice, so build∘serve must equal the in-plan scorer exactly
    "bigram_lm_persisted_docs": """
        WITH ws AS (
            SELECT doc_id AS id,
                   list_transform(list_filter(
                       string_split_regex(text, '\\s+'), w -> w <> ''),
                       w -> lower(w)) AS ws
            FROM documents WHERE doc_id < 300
        ),
        grams AS (
            SELECT id, ws[i] AS w1, ws[i + 1] AS w2
            FROM ws, unnest(range(1, greatest(len(ws), 2))) AS t(i)
        ),
        c12 AS (SELECT w1, w2, count(*) AS c12 FROM grams GROUP BY w1, w2),
        c1  AS (SELECT w1, count(*) AS c1 FROM grams GROUP BY w1),
        v   AS (SELECT count(DISTINCT w1) AS v FROM grams)
        SELECT g.id,
               count(*) AS n_bigrams,
               round(avg(ln((c12.c12 + 0.5) / (c1.c1 + 0.5 * v.v))), 4)
                   AS lm_score
        FROM grams g
        JOIN c12 USING (w1, w2)
        JOIN c1 USING (w1), v
        GROUP BY g.id
    """,
    # bucketed co-located join: values equal the plain join aggregate.
    "bucketed_join_agg": """
        SELECT c_mktsegment,
               count(*)                    AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment
    """,
    # conditional-min funnel: one agg per user, no self-joins.
    "funnel_stages_events": """
        WITH firsts AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
                   min(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
            FROM events GROUP BY user_id
        )
        SELECT count(*) AS n_users,
               sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS n_signup,
               sum(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                        THEN 1 ELSE 0 END) AS n_signup_click,
               sum(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                         AND t_purchase > t_click
                        THEN 1 ELSE 0 END) AS n_full_funnel,
               round(median(CASE WHEN t_signup IS NOT NULL
                                  AND t_click > t_signup
                                  AND t_purchase > t_click
                            THEN epoch(t_purchase) - epoch(t_signup) END)
                     / 3600.0, 4) AS median_hours_to_purchase
        FROM firsts
    """,
    # RRF fusion of the BM25 and cosine closed forms (k=50 each).
    "hybrid_search_rrf": """
        WITH base AS (
            SELECT doc_id,
                   list_transform(list_filter(
                       string_split_regex(text, '\\s+'), w -> w <> ''),
                       w -> lower(w)) AS ws
            FROM documents
        ),
        d AS (
            SELECT doc_id, len(ws) AS doc_len,
                   CAST(len(list_filter(ws, w -> w = 'spark'))  AS DOUBLE) AS tf0,
                   CAST(len(list_filter(ws, w -> w = 'window')) AS DOUBLE) AS tf1,
                   CAST(len(list_filter(ws, w -> w = 'merge'))  AS DOUBLE) AS tf2
            FROM base
        ),
        s AS (
            SELECT count(*) AS n, avg(doc_len) AS avgdl,
                   sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                   sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                   sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
            FROM d
        ),
        lex AS (
            SELECT doc_id,
                   round(
                     ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * tf0 * 2.2
                       / (tf0 + 1.2 * (0.25 + 0.75 * doc_len / avgdl))
                   + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * tf1 * 2.2
                       / (tf1 + 1.2 * (0.25 + 0.75 * doc_len / avgdl))
                   + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * tf2 * 2.2
                       / (tf2 + 1.2 * (0.25 + 0.75 * doc_len / avgdl)), 4)
                     AS score
            FROM d, s
            ORDER BY score DESC, doc_id
            LIMIT 50
        ),
        lexr AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                        AS INT) AS lex_rank
            FROM lex
        ),
        q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
              FROM embeddings WHERE vec_id = 0),
        sem AS (
            SELECT e.vec_id AS doc_id,
                   round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS cosine_sim
            FROM embeddings e, q
            WHERE e.vec_id <> 0
            ORDER BY cosine_sim DESC, e.vec_id
            LIMIT 50
        ),
        semr AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY cosine_sim DESC, doc_id)
                        AS INT) AS sem_rank
            FROM sem
        )
        SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
               l.lex_rank, r.sem_rank,
               round(coalesce(1.0 / (l.lex_rank + 60), 0.0)
                   + coalesce(1.0 / (r.sem_rank + 60), 0.0), 6) AS rrf
        FROM lexr l FULL OUTER JOIN semr r ON l.doc_id = r.doc_id
        ORDER BY rrf DESC, coalesce(l.doc_id, r.doc_id)
        LIMIT 20
    """,
    # inverted index summarized per term: df, total tf, first posting.
    "inverted_index_docs": """
        WITH toks AS (
            SELECT doc_id AS doc, lower(w) AS term
            FROM (
                SELECT doc_id, unnest(list_filter(
                    string_split_regex(text, '\\s+'), w -> w <> '')) AS w
                FROM documents
            )
        ),
        tf AS (
            SELECT term, doc, count(*) AS tf
            FROM toks GROUP BY term, doc
        )
        SELECT term,
               count(*)                              AS df,
               sum(tf)                               AS total_tf,
               min(doc)                              AS first_doc,
               first(tf ORDER BY doc)                AS first_tf
        FROM tf GROUP BY term
    """,
    # 3 unrolled PageRank iterations over the same functional graph.
    "pagerank_doc_graph": """
        WITH e AS (
            SELECT doc_id AS src, (doc_id * 31 + 7) % 400 AS dst
            FROM documents
        ),
        nodes AS (
            SELECT src AS node FROM e UNION SELECT dst FROM e
        ),
        deg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src),
        r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes),
        c1 AS (SELECT e.dst AS node, sum(r.rank / d.out_deg) AS contrib
               FROM e JOIN deg d USING (src) JOIN r0 r ON r.node = e.src
               GROUP BY e.dst),
        r1 AS (SELECT n.node,
                      0.15 + 0.85 * coalesce(c.contrib, 0.0) AS rank
               FROM nodes n LEFT JOIN c1 c USING (node)),
        c2 AS (SELECT e.dst AS node, sum(r.rank / d.out_deg) AS contrib
               FROM e JOIN deg d USING (src) JOIN r1 r ON r.node = e.src
               GROUP BY e.dst),
        r2 AS (SELECT n.node,
                      0.15 + 0.85 * coalesce(c.contrib, 0.0) AS rank
               FROM nodes n LEFT JOIN c2 c USING (node)),
        c3 AS (SELECT e.dst AS node, sum(r.rank / d.out_deg) AS contrib
               FROM e JOIN deg d USING (src) JOIN r2 r ON r.node = e.src
               GROUP BY e.dst),
        r3 AS (SELECT n.node,
                      0.15 + 0.85 * coalesce(c.contrib, 0.0) AS rank
               FROM nodes n LEFT JOIN c3 c USING (node))
        SELECT node, round(rank, 6) AS rank FROM r3
    """,
    # GROUPED_AGG pandas UDF twin: geometric mean = exp(avg(ln x)).
    "pandas_grouped_agg_gmean": """
        SELECT o_orderpriority,
               round(exp(avg(ln(o_totalprice))), 2) AS gmean_price
        FROM orders WHERE o_totalprice > 0
        GROUP BY o_orderpriority
    """,
    # binaryFile ingest: payload bytes are the utf-8 text, so length
    # and sha256 are recomputable straight from the table.
    "binary_file_ingest": """
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               sha256(text)               AS sha256
        FROM documents WHERE doc_id < 200
    """,
    # A-ES weighted sample: key = u^(1/weight), u = md5-top-60-bit unit
    # hash of 'aes:42:<id>'; top-100 keys are the sample.
    "weighted_sample_docs": """
        SELECT doc_id, n_chars AS weight
        FROM (
            SELECT doc_id, n_chars,
                   pow(('0x' || substring(md5('aes:42:'
                            || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
                        / 1152921504606846976.0,
                       1.0 / n_chars) AS aes_key
            FROM documents
            WHERE n_chars > 0
        )
        ORDER BY aes_key DESC, doc_id
        LIMIT 100
    """,
    # hashing-trick linear scorer: bucket = md5-60bit % 1024,
    # w(b) = ((b*2654435761) % 2000)/1000 - 1, score = sigmoid(mean w).
    "quality_classifier_docs": """
        SELECT doc_id,
               len(ws) AS n_tokens,
               -- NULL text: ws is NULL -> len/score/keep all NULL on
               -- Spark; the coalesce below only covers EMPTY docs
               CASE WHEN ws IS NULL THEN NULL ELSE
               round(1.0 / (1.0 + exp(-(
                   coalesce(list_aggregate(list_transform(ws, w ->
                       CAST((('0x' || substring(md5(w), 1, 15))::UBIGINT
                              % 1024) * 2654435761 % 2000 AS DOUBLE)
                           / 1000.0 - 1.0), 'sum'), 0)
                   / greatest(len(ws), 1)))), 4) END AS score,
               CASE WHEN ws IS NULL THEN NULL ELSE
               round(1.0 / (1.0 + exp(-(
                   coalesce(list_aggregate(list_transform(ws, w ->
                       CAST((('0x' || substring(md5(w), 1, 15))::UBIGINT
                              % 1024) * 2654435761 % 2000 AS DOUBLE)
                           / 1000.0 - 1.0), 'sum'), 0)
                   / greatest(len(ws), 1)))), 4) >= 0.5 END AS keep
        FROM (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'),
                               w -> w <> '') AS ws
            FROM documents
        )
    """,
    # GROUP BY ALL is shared syntax — the oracle is near-verbatim
    "sql_group_by_all": """
        SELECT o_orderpriority, o_orderstatus,
               count(*)                    AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        WHERE o_orderkey < 5000
        GROUP BY ALL
    """,
    "sql_pipe_q6": """
        SELECT l_returnflag,
               round(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
        GROUP BY l_returnflag
    """,
}


# ---------------------------------------------------------------------------
# Round-3 additions: time-series anomaly, entity resolution, SemDeDup,
# int8 quantization, aHash image near-dup, triangles, fuzzy decontamination
# ---------------------------------------------------------------------------

def _ewma_sql(alpha: float = 0.5, window: int = 8) -> str:
    """Finite-window EWMA + trailing z-score, with lag terms written in
    the exact arithmetic order of operators/windows.py::ewma_finite so
    the doubles agree bit-for-bit before display rounding."""
    lags = ",\n               ".join(
        f"lag(value, {i}) OVER w AS v{i}" for i in range(window)
    )
    num = " + ".join(
        f"coalesce(v{i}, 0.0) * {float((1.0 - alpha) ** i)!r}"
        for i in range(window)
    )
    den = " + ".join(
        f"(CASE WHEN v{i} IS NOT NULL THEN {float((1.0 - alpha) ** i)!r} "
        "ELSE 0.0 END)"
        for i in range(window)
    )
    return f"""
        WITH b AS (
            SELECT event_id, user_id, value,
               {lags},
               avg(value)         OVER wt AS m,
               stddev_samp(value) OVER wt AS s,
               count(value)       OVER wt AS n
            FROM events
            -- measurement envelope |value| <= 1e9 (matches the
            -- operator): 4-dp display past ~1e11 exceeds double
            -- precision and the engines' rounding modes diverge
            WHERE value IS NOT NULL AND isfinite(value)
              AND abs(value) <= 1e9
            WINDOW w  AS (PARTITION BY user_id ORDER BY ts, event_id),
                   wt AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id, user_id, value,
               round((0.0 + {num}) / (0.0 + {den}), 4) AS ewma,
               round((value - m) / s, 4) AS z
        FROM b
        WHERE n >= 6 AND s > 0 AND round(abs((value - m) / s), 6) > 3
    """


def _ahash_sql(max_hamming: int = 3) -> str:
    """aHash sketch + all-pairs hamming, rebuilt in pure integer SQL —
    pixels/bits/bands exactly as operators/multimodal.py::ahash_stub.
    All-pairs here proves the Spark side's band blocking lost nothing."""
    pix = ",\n                   ".join(
        f"(('0x' || substring(md5(ph || '|{i}'), 1, 15))::UBIGINT % 256)"
        f"::BIGINT AS p{i}"
        for i in range(64)
    )
    tot = " + ".join(f"p{i}" for i in range(64))
    bands = []
    for b in range(4):
        terms = " + ".join(
            f"(CASE WHEN p{b * 16 + j} * 64 >= tot THEN 1 ELSE 0 END) "
            f"* {1 << j}"
            for j in range(16)
        )
        bands.append(f"({terms})::BIGINT AS ab{b}")
    band_sql = ",\n                   ".join(bands)
    ham = " + ".join(f"bit_count(xor(a.ab{b}, b.ab{b}))" for b in range(4))
    return f"""
        WITH ph_t AS (SELECT doc_id, md5(substring(text, 1, 80)) AS ph
                      FROM documents),
        px AS (SELECT doc_id,
                   {pix}
               FROM ph_t),
        pt AS (SELECT *, ({tot}) AS tot FROM px),
        sk AS (SELECT doc_id,
                   {band_sql}
               FROM pt)
        SELECT id_a, id_b, hamming FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST({ham} AS INTEGER) AS hamming
            FROM sk a JOIN sk b ON a.doc_id < b.doc_id
        ) WHERE hamming <= {max_hamming}
    """


ORACLES.update({
    # finite-window EWMA + self-excluding trailing z-score, |z| > 3
    "ewma_anomaly_events": _ewma_sql(),
    # blocked entity resolution: levenshtein <= 1 within (nation, segment)
    "entity_match_customers": """
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               levenshtein(a.c_name, b.c_name) AS dist
        FROM customer a
        JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
    # SemDeDup: nearest seed centroid (vec_id < 8), within-cluster
    # cosine >= 0.4 dup pairs, survivor = lowest id
    "semantic_dedup_embeddings": """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        scored AS (
            SELECT e.vec_id, c.cid,
                   round(list_cosine_similarity(e.v, c.cv), 6) AS cs
            FROM e CROSS JOIN c
        ),
        asn AS (
            SELECT vec_id, cid AS cluster_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cs DESC, cid) AS rn
            FROM scored
        ),
        av AS (SELECT a.vec_id, a.cluster_id, e.v
               FROM asn a JOIN e USING (vec_id) WHERE rn = 1),
        dups AS (
            SELECT DISTINCT a.vec_id
            FROM av a JOIN av b
              ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
        )
        SELECT vec_id, cluster_id FROM av
        WHERE vec_id NOT IN (SELECT vec_id FROM dups)
    """,
    # int8 per-dimension scalar quantization reconstruction audit
    "int8_quantize_embeddings": """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        ex AS (SELECT vec_id,
                      unnest(range(1, len(v) + 1)) AS dim,
                      unnest(v) AS x
               FROM e),
        st AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM ex GROUP BY dim),
        r AS (
            SELECT vec_id,
                   x - (CASE WHEN mx > mn
                        THEN mn + floor((x - mn) / ((mx - mn) / 255.0) + 0.5)
                                  * ((mx - mn) / 255.0)
                        ELSE mn END) AS er
            FROM ex JOIN st USING (dim)
        )
        SELECT vec_id,
               round(sqrt(avg(er * er)), 6) AS rmse,
               round(max(abs(er)), 6)       AS max_abs_err
        FROM r GROUP BY vec_id
    """,
    # aHash image near-dup: all-pairs hamming <= 3 over the stub sketch
    "image_ahash_near_dup": _ahash_sql(),
    # per-node triangle counts on the mixed-modulus doc graph
    "triangle_count_doc_graph": """
        WITH raw AS (SELECT doc_id % 60 AS a, (doc_id % 97) % 60 AS b
                     FROM documents),
        e AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
              FROM raw WHERE a <> b),
        t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM e e1
              JOIN e e2 ON e1.b = e2.a
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        g AS (SELECT x AS node FROM t
              UNION ALL SELECT y FROM t
              UNION ALL SELECT z FROM t)
        SELECT node, count(*) AS n_triangles FROM g GROUP BY node
    """,
    # fuzzy decontamination: exact all-pairs cross-set Jaccard >= 0.3,
    # strongest benchmark match per contaminated doc
    "fuzzy_decontaminate_docs": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
        grams AS (SELECT doc_id, list_distinct(list(gram)) AS g
                  FROM ({_GRAMS3}) GROUP BY doc_id),
        corp AS (SELECT d.doc_id, g.g FROM documents d
                 JOIN grams g USING (doc_id) WHERE d.source <> 'src0'),
        bench AS (SELECT d.doc_id, g.g FROM documents d
                  JOIN grams g USING (doc_id) WHERE d.source = 'src0'),
        pairs AS (
            SELECT c.doc_id, b.doc_id AS bench_id,
                   CAST(len(list_intersect(c.g, b.g)) AS DOUBLE)
                       / CAST(len(list_distinct(c.g || b.g)) AS DOUBLE)
                       AS raw_sim
            FROM corp c CROSS JOIN bench b
        ),
        flagged AS (
            -- filter on the UNROUNDED similarity (mirrors
            -- verify_pairs_jaccard); rank on the ROUNDED value since
            -- that is the column Spark sorts, ties -> bench_id
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY round(raw_sim, 4) DESC,
                                                  bench_id) AS rn
            FROM pairs WHERE raw_sim >= 0.3
        )
        SELECT doc_id, bench_id, round(raw_sim, 4) AS jaccard_sim
        FROM flagged WHERE rn = 1
    """,
})


ORACLES.update({
    # streaming session windows == the batch gaps-and-islands sessions
    "stream_session_parity": ORACLES["session_window_batch"],
    # first-order Markov transition matrix over per-user event sequences
    "event_transition_matrix": """
        WITH p AS (
            SELECT event_type AS from_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS to_type
            FROM events WHERE ts IS NOT NULL
        ),
        c AS (
            SELECT from_type, to_type, count(*) AS n
            FROM p WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type
        )
        SELECT from_type, to_type, n,
               round(n / sum(n) OVER (PARTITION BY from_type), 4) AS p
        FROM c
    """,
    # Zipf fit: ln-rank / ln-freq least squares over the vocabulary
    "zipf_fit_tokens": f"""
        WITH toks AS (SELECT unnest({_TOKENS}) AS tok FROM documents),
        f AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        rk AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r
               FROM f)
        SELECT count(*) AS n_types,
               sum(c) AS n_tokens,
               round(regr_slope(ln(c), ln(r)), 6)     AS slope,
               round(regr_intercept(ln(c), ln(r)), 6) AS icept,
               round(regr_r2(ln(c), ln(r)), 6)        AS r2
        FROM rk
    """,
    # 2-D skyline on the per-day aggregate: price max, date min
    "pareto_frontier_orders": """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   max(o_totalprice) AS best_price,
                   count(*) AS n_orders
            FROM orders GROUP BY 1
        ),
        x AS (
            SELECT *, max(best_price) OVER (
                       ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS prior_best
            FROM daily
        )
        SELECT d, best_price, n_orders FROM x
        WHERE prior_best IS NULL OR best_price > prior_best
    """,
    # Benford leading-digit audit via integer-cents string arithmetic
    "benford_orders": """
        WITH b AS (
            SELECT digit FROM (
                SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100)
                           AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
                FROM orders
            ) WHERE digit BETWEEN 1 AND 9
        )
        SELECT digit, n,
               round(n / sum(n) OVER (), 4) AS observed,
               round(log10(1.0 + 1.0 / digit), 4) AS expected
        FROM (SELECT digit, count(*) AS n FROM b GROUP BY digit)
    """,
    # final state of the incrementally maintained orders⋈customer view
    "incremental_join_parity": """
        SELECT c_mktsegment,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                   AS DECIMAL(18,2)) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderkey < 3000 AND o_orderstatus <> 'F'
        GROUP BY c_mktsegment
    """,
    # BPE merge-round statistic: top-20 adjacent char pairs
    "bpe_pair_stats_docs": f"""
        WITH toks AS (SELECT unnest({_TOKENS}) AS w FROM documents),
        pairs AS (
            SELECT unnest(list_transform(range(1, len(w)),
                                         i -> substring(w, i, 2))) AS pair
            FROM toks WHERE len(w) >= 2
        )
        SELECT pair, count(*) AS n
        FROM pairs GROUP BY pair
        ORDER BY n DESC, pair
        LIMIT 20
    """,
})


ORACLES.update({
    # grid-blocked radius join == all-pairs distance filter
    "spatial_radius_join_customers": """
        WITH p AS (
            SELECT c_custkey AS id,
                   ((('0x' || substring(md5('x|' || CAST(c_custkey AS VARCHAR)), 1, 15))::UBIGINT
                     % 10000)::BIGINT)::DOUBLE / 10.0 AS x,
                   ((('0x' || substring(md5('y|' || CAST(c_custkey AS VARCHAR)), 1, 15))::UBIGINT
                     % 10000)::BIGINT)::DOUBLE / 10.0 AS y
            FROM customer
        )
        SELECT id_a, id_b, dist FROM (
            SELECT a.id AS id_a, b.id AS id_b,
                   (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2,
                   round(sqrt((a.x - b.x) * (a.x - b.x)
                              + (a.y - b.y) * (a.y - b.y)), 4) AS dist
            FROM p a JOIN p b ON a.id < b.id
        ) WHERE d2 <= 225.0
    """,
    # ntile / percent_rank / cume_dist with a total sort order
    "window_rank_extras": """
        SELECT o_orderkey, o_orderpriority,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pr,
               round(cume_dist() OVER w, 6) AS cd
        FROM orders WHERE o_orderkey < 2000
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey)
    """,
    # hourly spine + linear interpolation between straddling means
    "resample_interp_events": """
        WITH ev AS (SELECT user_id, date_trunc('hour', ts) AS h, value
                    FROM events WHERE user_id < 20),
        hourly AS (SELECT user_id, h, round(avg(value), 4) AS v
                   FROM ev GROUP BY user_id, h),
        -- clamp: at most 90 days (2160 h) of spine per user,
        -- anchored at the latest hour (matches the operator's
        -- bounded-state contract)
        bounds AS (SELECT user_id,
                          greatest(min(h), max(h) - INTERVAL 2160 HOURS)
                              AS h0,
                          max(h) AS h1
                   FROM ev GROUP BY user_id),
        spine AS (SELECT user_id,
                         unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
                  FROM bounds),
        j AS (SELECT s.user_id, s.h, hourly.v
              FROM spine s LEFT JOIN hourly USING (user_id, h)),
        x AS (
            SELECT user_id, h, v,
                   last_value(v IGNORE NULLS) OVER wb AS pv,
                   last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                       OVER wb AS ph,
                   first_value(v IGNORE NULLS) OVER wf AS nv,
                   first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                       OVER wf AS nh
            FROM j
            WINDOW wb AS (PARTITION BY user_id ORDER BY h
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wf AS (PARTITION BY user_id ORDER BY h
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT user_id, h,
               CASE WHEN v IS NOT NULL THEN v
                    WHEN pv IS NOT NULL AND nv IS NOT NULL
                    THEN pv + (nv - pv) *
                         ((epoch(h)::BIGINT - epoch(ph)::BIGINT)
                          / (epoch(nh)::BIGINT - epoch(ph)::BIGINT))
                    WHEN pv IS NOT NULL THEN pv
                    ELSE nv END AS filled,
               v IS NULL AS is_gap
        FROM x
    """,
    # deterministic-Laplace noisy release (inverse CDF over hash uniform)
    "dp_noisy_release_orders": """
        WITH agg AS (
            SELECT c_mktsegment, count(*) AS n_true
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        ),
        x AS (
            SELECT c_mktsegment, n_true,
                   ((('0x' || substring(md5('dp|' || c_mktsegment), 1, 15))::UBIGINT
                     % 1000000)::BIGINT::DOUBLE + 0.5) / 1000000.0 AS u
            FROM agg
        )
        SELECT c_mktsegment,
               round(n_true +
                     (-20.0 * (CASE WHEN (u - 0.5) < 0 THEN -1.0 ELSE 1.0 END)
                      * ln(1.0 - 2.0 * abs(u - 0.5))), 4) AS released
        FROM x
    """,
})


ORACLES.update({
    # sliding windows: every event belongs to exactly window/slide = 2
    # overlapping windows; explode to both starts and count
    "stream_sliding_parity": """
        WITH half AS (
            SELECT event_type,
                   date_trunc('hour', ts)
                   + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                          ELSE INTERVAL 0 MINUTE END AS b
            FROM events WHERE ts IS NOT NULL
        ),
        w AS (
            SELECT event_type,
                   unnest([b, b - INTERVAL 30 MINUTE]) AS window_start
            FROM half
        )
        SELECT window_start, event_type, count(*) AS n
        FROM w GROUP BY window_start, event_type
    """,
})


ORACLES.update({
    # point-in-time join against a deterministic 2-version SCD2 dim
    "temporal_join_scd2": """
        WITH v1 AS (
            SELECT c_custkey, c_mktsegment AS segment,
                   DATE '1992-01-01' AS valid_from,
                   CASE WHEN c_custkey % 3 = 0 THEN DATE '1996-01-01'
                        END AS valid_to
            FROM customer
        ),
        v2 AS (
            SELECT c_custkey, 'NEW_' || c_mktsegment AS segment,
                   DATE '1996-01-01' AS valid_from,
                   CAST(NULL AS DATE) AS valid_to
            FROM customer WHERE c_custkey % 3 = 0
        ),
        dim AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        SELECT segment, count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders JOIN dim ON o_custkey = dim.c_custkey
        WHERE CAST(o_orderdate AS DATE) >= valid_from
          AND (valid_to IS NULL OR CAST(o_orderdate AS DATE) < valid_to)
        GROUP BY segment
    """,
})


ORACLES.update({
    # curriculum phases (length quartiles) + portable shuffle key
    "curriculum_order_docs": """
        WITH cuts AS (
            SELECT quantile_cont(n_chars, 0.25) AS c1,
                   quantile_cont(n_chars, 0.5)  AS c2,
                   quantile_cont(n_chars, 0.75) AS c3
            FROM documents
        )
        SELECT doc_id,
               1 + CAST(n_chars > c1 AS INTEGER)
                 + CAST(n_chars > c2 AS INTEGER)
                 + CAST(n_chars > c3 AS INTEGER) AS phase,
               (('0x' || substring(md5('cur|' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT)::BIGINT
                   AS order_key
        FROM documents, cuts
    """,
})


ORACLES.update({
    # streaming ANN intake == declarative survivor set: no smaller-id
    # vector with round(cosine, 6) >= 0.4
    "stream_ann_intake_parity": """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id < 300)
        SELECT a.vec_id FROM e a
        WHERE NOT EXISTS (
            SELECT 1 FROM e b
            WHERE b.vec_id < a.vec_id
              AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
        )
    """,
})


ORACLES.update({
    # shared sampled-frame fingerprints (64-byte frames, stride 2):
    # frames rebuilt from hex(payload) slices — 128 hex chars per frame
    "video_frame_near_dup": """
        WITH p AS (SELECT doc_id, lower(hex(encode(text))) AS hx
                   FROM documents),
        fr AS (
            SELECT DISTINCT doc_id,
                   md5(substring(hx, i * 128 + 1, 128)) AS fh
            FROM (
                SELECT doc_id, hx,
                       unnest(range(0,
                           CAST(ceil(len(hx) / 128.0) AS INTEGER), 2)) AS i
                FROM p
            )
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               count(*) AS shared_frames
        FROM fr a JOIN fr b ON a.fh = b.fh AND a.doc_id < b.doc_id
        GROUP BY id_a, id_b
        HAVING count(*) >= 2
    """,
})


ORACLES.update({
    # LATERAL Python UDTF chunking == set-based SQL chunking
    "udtf_chunk_docs": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKENS} AS ts FROM documents
            WHERE doc_id >= 100 AND doc_id < 200
        ),
        starts AS (
            SELECT doc_id, ts,
                   unnest(range(0, greatest(len(ts), 1), 24)) AS s
            FROM toks WHERE len(ts) >= 1
        )
        SELECT doc_id,
               CAST(s // 24 AS INTEGER) AS chunk_id,
               CAST(len(list_slice(ts, s + 1, s + 32)) AS INTEGER)
                   AS n_chunk_tokens,
               array_to_string(list_slice(ts, s + 1, s + 32), ' ') AS chunk
        FROM starts
    """,
})


ORACLES.update({
    # post-RESTORE content == the original slice, aggregated
    "restore_parity": """
        SELECT o_orderstatus, count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders WHERE o_orderkey < 2000
        GROUP BY o_orderstatus
    """,
})


ORACLES.update({
    # SQL:2023 listagg == DuckDB string_agg with the same total order
    "listagg_orders": """
        SELECT o_orderpriority,
               string_agg(DISTINCT o_orderstatus, ','
                          ORDER BY o_orderstatus) AS statuses,
               count(*) AS n
        FROM orders GROUP BY o_orderpriority
    """,
})


ORACLES.update({
    # stateful-stream EWMA final state == rank-arithmetic batch EWMA;
    # non-finite observations count toward n_seen but never enter the
    # value window (family contract, mirrors _update_ewma)
    "stream_ewma_state_parity": """
        WITH f AS (
            SELECT user_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
            WHERE ts IS NOT NULL AND value IS NOT NULL AND isfinite(value)
        ),
        ns AS (SELECT user_id, count(*) AS n_seen FROM events
               WHERE ts IS NOT NULL GROUP BY 1),
        ew AS (
            SELECT user_id,
                   round(sum(CASE WHEN rn <= 8
                                  THEN value * pow(0.5, rn - 1) END)
                         / sum(CASE WHEN rn <= 8
                                    THEN pow(0.5, rn - 1) END), 4) AS ewma
            FROM f GROUP BY user_id
        )
        SELECT ns.user_id, ns.n_seen, ew.ewma
        FROM ns LEFT JOIN ew
          ON ns.user_id IS NOT DISTINCT FROM ew.user_id
    """,
})


ORACLES.update({
    # k-anonymity / l-diversity audit over quasi-identifier classes
    "k_anonymity_customers": """
        WITH b AS (
            SELECT c_nationkey, c_mktsegment,
                   CASE WHEN c_acctbal < 0 THEN 'neg'
                        WHEN c_acctbal < 5000 THEN 'low'
                        ELSE 'high' END AS bal_band
            FROM customer
        )
        SELECT c_nationkey, c_mktsegment,
               count(*) AS k_size,
               count(DISTINCT bal_band) AS l_div,
               (count(*) < 5 OR count(DISTINCT bal_band) < 2) AS flagged
        FROM b GROUP BY c_nationkey, c_mktsegment
    """,
})


ORACLES.update({
    # exact rolling 7-day distinct users on the per-day set pre-agg
    "rolling_unique_users": """
        WITH daily AS (
            -- FILTER: a NULL user is not a user (Spark collect_set
            -- skips NULLs; bare list(DISTINCT) would count one)
            SELECT CAST(ts AS DATE) AS d,
                   coalesce(list(DISTINCT user_id)
                            FILTER (WHERE user_id IS NOT NULL), []) AS users
            FROM events WHERE ts IS NOT NULL GROUP BY 1
        )
        SELECT d,
               len(users) AS dau,
               len(list_distinct(flatten(list(users) OVER (
                   ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
               )))) AS wau7
        FROM daily
    """,
})


ORACLES.update({
    # Watermark late-drop semantics, restated declaratively: with the
    # echo batch arriving two batches after b0, the late-filter wm is
    # M−1h (M = max ts of b0); an echo row contributes iff its hourly
    # window end > M−1h (still-open state merges it), else it is
    # dropped. On-time batches always contribute. The sentinel flush
    # row never appears (its window is filtered on the Spark side and
    # never constructed here).
    "stream_late_drop_parity": """
        WITH b0 AS (
            SELECT ts, event_type, value FROM events
            WHERE ts < TIMESTAMP '2024-01-04 00:00:00'
        ),
        mt AS (SELECT max(ts) AS m FROM b0),
        b1 AS (
            SELECT ts, event_type, value FROM events
            WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
              AND ts <  TIMESTAMP '2024-01-13 00:00:00'
        ),
        b2 AS (
            SELECT ts, event_type, value FROM events
            WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
            UNION ALL
            SELECT e.ts, e.event_type, e.value FROM events e, mt
            WHERE e.ts >= date_trunc('hour', mt.m) - INTERVAL 1 HOUR
              AND e.ts <  TIMESTAMP '2024-01-04 00:00:00'
        ),
        late_kept AS (
            SELECT b.ts, b.event_type, b.value FROM b2 b, mt
            WHERE date_trunc('hour', b.ts) + INTERVAL 1 HOUR
                  > mt.m - INTERVAL 1 HOUR
        ),
        contrib AS (
            SELECT * FROM b0
            UNION ALL SELECT * FROM b1
            UNION ALL SELECT * FROM late_kept
        )
        SELECT date_trunc('hour', ts)                   AS window_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
               event_type,
               count(*) AS n,
               round(sum(value), 2) AS total_value
        FROM contrib
        GROUP BY 1, 2, 3
    """,
    # the naive single-partition form the scalable plan must equal
    "dense_ids_docs": """
        SELECT doc_id, n_chars,
               CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
                   AS dense_id
        FROM documents
    """,
    "html_extract_docs": """
        WITH h AS (
            SELECT doc_id,
                   '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
                   || ' (' || lang || ')</title></head><body><p>' || text
                   || '</p><a href="https://' || source
                   || '.example.com/d/' || CAST(doc_id AS VARCHAR)
                   || '">more</a><a href="/local/' || lang
                   || '">l</a></body></html>' AS html
            FROM documents
        ),
        x AS (
            SELECT doc_id, html,
                   trim(regexp_replace(regexp_replace(
                       html, '<[^>]+>', ' ', 'g'), '\\s+', ' ', 'g')) AS body,
                   regexp_extract_all(html, 'href="([^"]+)"', 1) AS links
            FROM h
        )
        SELECT doc_id,
               regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
               CAST(len(links) AS INTEGER) AS n_links,
               links[1] AS first_link,
               CAST(length(body) AS INTEGER) AS body_chars,
               substring(body, 1, 80) AS body_prefix
        FROM x
    """,
    # every normalization step of operators/web.py::canonicalize_url
    # replayed in DuckDB string/list functions over the same fixture
    "url_canonical_dedup_docs": """
        WITH u AS (
            SELECT doc_id,
                   (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END)
                   || '://'
                   || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
                   || source || '.Example.com'
                   || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
                   || '/p/' || CAST(doc_id % 50 AS VARCHAR)
                   || (CASE WHEN doc_id % 2 = 0
                       THEN '?b=2&a=1&utm_source=feed' ELSE '?a=1&b=2' END)
                   || (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END)
                   AS url
            FROM documents
        ),
        nofrag AS (
            SELECT doc_id, regexp_replace(url, '#.*$', '') AS no_frag FROM u
        ),
        split AS (
            SELECT doc_id,
                   regexp_extract(no_frag, '^([^?]*)', 1) AS base,
                   regexp_extract(no_frag, '\\?(.*)$', 1) AS query
            FROM nofrag
        ),
        comps AS (
            SELECT doc_id,
                   lower(regexp_extract(
                       base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                   regexp_replace(
                       base, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest,
                   query
            FROM split
        ),
        rawhost AS (
            SELECT doc_id, scheme, rest, query,
                   regexp_replace(
                       lower(regexp_extract(rest, '^([^/]*)', 1)),
                       '^www\\.', '') AS host0
            FROM comps
        ),
        hostpath AS (
            SELECT doc_id, scheme,
                   CASE WHEN scheme = 'https'
                        THEN regexp_replace(host0, ':443$', '')
                        WHEN scheme = 'http'
                        THEN regexp_replace(host0, ':80$', '')
                        ELSE host0 END AS host,
                   CASE WHEN regexp_replace(rest, '^[^/]*', '') = ''
                        THEN '/' ELSE regexp_replace(rest, '^[^/]*', '')
                   END AS path,
                   array_to_string(list_sort(list_filter(
                       string_split(query, '&'),
                       p -> p <> '' AND NOT starts_with(p, 'utm_'))),
                       '&') AS params
            FROM rawhost
        ),
        canon AS (
            SELECT doc_id,
                   scheme || '://' || host || path ||
                   CASE WHEN params <> '' THEN '?' || params ELSE '' END
                       AS canonical_url
            FROM hostpath
        )
        SELECT canonical_url,
               count(*) AS n_variants,
               min(doc_id) AS keep_doc
        FROM canon
        GROUP BY 1
    """,
})

# crawl-to-corpus flagship: the full WARC -> web-normalize -> quality
# -> dedup -> split funnel regenerated from the documents table
# (parse.build = id is proven separately by warc_roundtrip_docs), with
# the per-stage survivor-id fingerprint in the table_fingerprint
# md5-sum contract
_WTC_CK = (
    "CAST(coalesce(sum(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),"
    " 1, 15))::UBIGINT::HUGEINT) % 2305843009213693951, 0) AS BIGINT)"
    " AS id_checksum"
)
ORACLES.update({
    "warc_to_corpus_docs": f"""
        WITH d0 AS (SELECT doc_id, lang, source, text
                    FROM documents WHERE doc_id < 400),
        -- every 4th doc also arrives as a mirror record: identical
        -- content, different record id (+100000) and URL path (/m/)
        d AS (SELECT doc_id AS vdoc, doc_id, lang, source, text,
                     '/p/' AS pfx FROM d0
              UNION ALL
              SELECT doc_id AS vdoc, doc_id + 100000, lang, source, text,
                     '/m/' FROM d0 WHERE doc_id % 4 = 0),
        h AS (
            SELECT doc_id,
                   '<html><head><title>Doc ' || CAST(vdoc AS VARCHAR)
                   || ' (' || lang || ')</title></head><body><p>' || text
                   || '</p><a href="https://' || source
                   || '.example.com/d/' || CAST(vdoc AS VARCHAR)
                   || '">more</a></body></html>' AS html,
                   (CASE WHEN vdoc % 2 = 0 THEN 'https' ELSE 'HTTPS' END)
                   || '://'
                   || (CASE WHEN vdoc % 3 = 0 THEN 'WWW.' ELSE '' END)
                   || 'Example.com'
                   || (CASE WHEN vdoc % 5 = 0 THEN ':443' ELSE '' END)
                   || pfx || CAST(vdoc % 120 AS VARCHAR)
                   || (CASE WHEN vdoc % 2 = 0
                       THEN '?b=2&a=1&utm_source=crawl'
                       ELSE '?a=1&b=2' END)
                   || (CASE WHEN vdoc % 7 = 0 THEN '#frag' ELSE '' END)
                       AS url
            FROM d
        ),
        nf AS (SELECT doc_id, html,
                      regexp_replace(url, '#.*$', '') AS no_frag FROM h),
        sp AS (SELECT doc_id, html,
                      regexp_extract(no_frag, '^([^?]*)', 1) AS base,
                      regexp_extract(no_frag, '\\?(.*)$', 1) AS query
               FROM nf),
        cp AS (SELECT doc_id, html, query,
                      lower(regexp_extract(
                          base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                      regexp_replace(
                          base, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
               FROM sp),
        rh AS (SELECT doc_id, html, query, scheme, rest,
                      regexp_replace(lower(regexp_extract(
                          rest, '^([^/]*)', 1)), '^www\\.', '') AS host0
               FROM cp),
        hp AS (SELECT doc_id, html, scheme,
                      CASE WHEN scheme = 'https'
                           THEN regexp_replace(host0, ':443$', '')
                           WHEN scheme = 'http'
                           THEN regexp_replace(host0, ':80$', '')
                           ELSE host0 END AS host,
                      CASE WHEN regexp_replace(rest, '^[^/]*', '') = ''
                           THEN '/' ELSE regexp_replace(rest, '^[^/]*', '')
                      END AS path,
                      array_to_string(list_sort(list_filter(
                          string_split(query, '&'),
                          p -> p <> '' AND NOT starts_with(p, 'utm_'))),
                          '&') AS params
               FROM rh),
        xt AS (SELECT doc_id,
                      scheme || '://' || host || path ||
                      CASE WHEN params <> '' THEN '?' || params
                           ELSE '' END AS curl,
                      trim(regexp_replace(regexp_replace(
                          html, '<[^>]+>', ' ', 'g'),
                          '\\s+', ' ', 'g')) AS text
               FROM hp),
        scored AS (
            SELECT doc_id, curl, md5(text) AS fp,
                   round(((CASE WHEN len(ts) BETWEEN 5 AND 100000
                                THEN 1.0 ELSE 0.0 END)
                          + (CASE WHEN CAST(len(list_distinct(ts)) AS DOUBLE)
                                       / greatest(CAST(len(ts) AS DOUBLE),
                                                  1.0) >= 0.2
                                  THEN 1.0
                                  ELSE (CAST(len(list_distinct(ts)) AS DOUBLE)
                                        / greatest(CAST(len(ts) AS DOUBLE),
                                                   1.0)) / 0.2 END)
                          + (CASE WHEN CAST(len(list_filter(ts,
                                       x -> list_contains({STOPWORDS_SQL},
                                                          x))) AS DOUBLE)
                                       / greatest(CAST(len(ts) AS DOUBLE),
                                                  1.0)
                                       BETWEEN 0.01 AND 0.6
                                  THEN 1.0 ELSE 0.5 END)) / 3.0, 4)
                       AS quality
            FROM (SELECT doc_id, curl, text, {_TOKENS} AS ts FROM xt)
        ),
        uk AS (SELECT * FROM (SELECT *, row_number() OVER (
                   PARTITION BY curl ORDER BY doc_id) AS rn FROM scored)
               WHERE rn = 1),
        ql AS (SELECT * FROM uk WHERE quality >= 0.9),
        dd AS (SELECT * FROM (SELECT *, row_number() OVER (
                   PARTITION BY fp ORDER BY doc_id) AS rn2 FROM ql)
               WHERE rn2 = 1),
        sb AS (SELECT *, ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                   1, 15))::UBIGINT % 10 AS b FROM dd)
        SELECT 'parsed' AS stage, count(*) AS n_rows, {_WTC_CK} FROM scored
        UNION ALL SELECT 'url_dedup', count(*), {_WTC_CK} FROM uk
        UNION ALL SELECT 'quality', count(*), {_WTC_CK} FROM ql
        UNION ALL SELECT 'exact_dedup', count(*), {_WTC_CK} FROM dd
        UNION ALL SELECT 'split_train', count(*), {_WTC_CK} FROM sb
                  WHERE b < 8
        UNION ALL SELECT 'split_val', count(*), {_WTC_CK} FROM sb
                  WHERE b >= 8
    """,
})

ORACLES.update({
    # same replace-count + explicit-hex-class contract as the operator;
    # chr(65533) is U+FFFD
    "encoding_quality_docs": """
        WITH d AS (
            SELECT lang,
                   text
                   || (CASE WHEN doc_id % 3 = 0
                       THEN chr(65533) || chr(65533) || chr(65533)
                       ELSE '' END)
                   || (CASE WHEN doc_id % 5 = 0
                       THEN chr(1) || chr(2) || chr(7) ELSE '' END) AS t
            FROM documents
        ),
        c AS (
            -- coalesce: NULL text counts 0 chars / 0 hits and PASSES
            -- (the operator's documented NULL contract)
            SELECT lang,
                   coalesce(length(t), 0) AS n,
                   coalesce(length(t) - length(replace(t, chr(65533), '')),
                            0) AS n_rep,
                   coalesce(length(t) - length(regexp_replace(t,
                       '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g')),
                       0) AS n_ctl
            FROM d
        )
        SELECT lang, count(*) AS n_docs,
               sum(n_rep) AS total_replacement,
               sum(n_ctl) AS total_control,
               sum(CASE WHEN CAST(n_rep AS DOUBLE)
                             / greatest(CAST(n AS DOUBLE), 1.0) <= 0.002
                         AND CAST(n_ctl AS DOUBLE)
                             / greatest(CAST(n AS DOUBLE), 1.0) <= 0.002
                        THEN 1 ELSE 0 END) AS n_passing
        FROM c GROUP BY lang
    """,
})

ORACLES.update({
    # every sample field recomputed straight from documents — equality
    # proves tarfile-write -> our-parse -> sample-group is lossless
    "tar_webdataset_roundtrip_docs": """
        SELECT doc_id,
               CAST(2 AS BIGINT) AS n_members,
               'cls' AS ext1, 'txt' AS ext2,
               lang AS cls_payload,
               CAST(strlen(text) AS BIGINT) AS txt_bytes,
               CAST(strlen(text) + strlen(lang) AS BIGINT) AS total_bytes
        FROM documents WHERE doc_id < 240
    """,
})

ORACLES.update({
    # regenerate the LCG PCM series, frame at 32 samples, integer
    # energies, threshold flags run-length-encoded via lag-change ->
    # cumulative-sum segment ids — identical semantics to the numpy
    # reduceat/diff kernel
    "pcm_energy_segments_docs": """
        WITH d AS (SELECT doc_id, 64 + (doc_id % 64) AS n
                   FROM documents WHERE doc_id < 200),
        s AS (SELECT doc_id,
                     unnest(range(0, n)) AS i,
                     ((doc_id * 31 + unnest(range(0, n)) * 17) % 4096)
                         - 2048 AS v
              FROM d),
        f AS (SELECT doc_id, i // 32 AS frame,
                     sum(v * v) AS energy
              FROM s GROUP BY 1, 2),
        g AS (SELECT doc_id, frame, energy,
                     (energy > 44000000) AS sp
              FROM f),
        r AS (SELECT *, CASE WHEN lag(sp) OVER w IS NULL
                              OR lag(sp) OVER w <> sp
                        THEN 1 ELSE 0 END AS brk
              FROM g WINDOW w AS (PARTITION BY doc_id ORDER BY frame)),
        seg AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id
                    ORDER BY frame) AS sid
                FROM r)
        SELECT doc_id, CAST(sid - 1 AS INTEGER) AS seg_id,
               sp AS is_speech,
               CAST(min(frame) AS INTEGER) AS start_frame,
               count(*) AS n_frames,
               CAST(sum(energy) AS BIGINT) AS energy_sum
        FROM seg GROUP BY doc_id, sid, sp
    """,
})

ORACLES.update({
    # the split hash keys on source (leak-free grouping); one row per
    # (source, split) — and because the hash is group-keyed there is
    # exactly one split per source
    "grouped_split_docs": """
        WITH h AS (
            SELECT doc_id, source,
                   ('0x' || substring(md5('split:42:'
                        || coalesce(source, '')), 1, 15))
                       ::UBIGINT / 1152921504606846976.0 AS u
            FROM documents
        )
        SELECT source,
               CASE WHEN u < 0.9 THEN 'train'
                    WHEN u < 0.95 THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs
        FROM h GROUP BY 1, 2
    """,
})

ORACLES.update({
    # same field recomputation as warc_roundtrip_docs — the gz layer
    # must be lossless
    "warc_gz_roundtrip_docs": """
        SELECT 'response' AS warc_type,
               '<urn:corpus:' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
               'http://corpus.local/doc/' || CAST(doc_id AS VARCHAR)
                   AS target_uri,
               CAST(strlen(text) AS BIGINT) AS content_length,
               text
        FROM documents WHERE doc_id < 240
    """,
})

ORACLES.update({
    # dims recomputed arithmetically; the fake-SOF comment in the
    # fixture means a magic-byte scan would get these WRONG
    "jpeg_dims_docs": """
        SELECT doc_id,
               CAST((doc_id % 1280) + 320 AS INTEGER) AS width,
               CAST((doc_id % 720) + 240 AS INTEGER) AS height,
               CAST(3 AS INTEGER) AS n_components,
               (doc_id % 4 = 0) AS progressive
        FROM documents WHERE doc_id < 200
    """,
})

ORACLES.update({
    # declarative result of the streaming crawl intake: every record
    # whose body is >= 100 octets, fields recomputed from documents
    "stream_warc_intake_parity": """
        SELECT '<urn:corpus:' || CAST(doc_id AS VARCHAR) || '>'
                   AS record_id,
               'http://corpus.local/doc/' || CAST(doc_id AS VARCHAR)
                   AS target_uri,
               CAST(strlen(text) AS BIGINT) AS content_length
        FROM documents
        WHERE doc_id < 240 AND strlen(text) >= 100
    """,
})

ORACLES.update({
    # positional n-grams (widths 1 and 2) joined against the same
    # VALUES lexicon; overlap-counting semantics match the operator
    "blocklist_lexicon_docs": """
        WITH toks AS (
            SELECT doc_id, lang,
                   list_filter(string_split_regex(lower(text),
                       '[^a-z0-9]+'), x -> x <> '') AS ts
            FROM documents
        ),
        pos AS (SELECT doc_id, ts,
                       unnest(range(1, len(ts) + 1)) AS p
                FROM toks),
        g1 AS (SELECT doc_id, ts[p] AS gram FROM pos),
        g2 AS (SELECT doc_id, ts[p] || ' ' || ts[p + 1] AS gram
               FROM pos WHERE p + 1 <= len(ts)),
        lex(gram) AS (VALUES ('merge'), ('window sort'),
                             ('hash value'), ('big query')),
        hits AS (SELECT doc_id, count(*) AS h
                 FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2) g
                 JOIN lex USING (gram) GROUP BY doc_id)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(coalesce(h, 0)) AS BIGINT) AS total_hits,
               sum(CASE WHEN coalesce(h, 0) <= 2 THEN 1 ELSE 0 END)
                   AS n_passing
        FROM toks LEFT JOIN hits USING (doc_id)
        GROUP BY lang
    """,
})

# the hashed char-3-gram nearest-centroid classifier as a reusable CTE
# body (shared by the lang-ID gate and its metrics gate): same
# md5-bucket hash, exact-integer dot products, 6dp cosine argmax with
# lang-asc ties
_LANG_PRED_CTES = """
        normed AS (
            SELECT doc_id, lang,
                   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
            FROM documents
        ),
        pos AS (
            SELECT doc_id, lang, s,
                   unnest(range(1, greatest(len(s) - 1, 1))) AS p
            FROM normed
        ),
        grams AS (
            SELECT doc_id, lang,
                   ('0x' || substring(md5(substring(s, p, 3)), 1, 15))::UBIGINT
                       % 64 AS b
            FROM pos
        ),
        dv AS (SELECT doc_id, b, count(*) AS c FROM grams GROUP BY 1, 2),
        cent AS (SELECT lang AS clang, b, count(*) AS cc
                 FROM grams WHERE lang IS NOT NULL GROUP BY 1, 2),
        dn AS (SELECT doc_id, sqrt(sum(CAST(c * c AS DOUBLE))) AS dnorm
               FROM dv GROUP BY 1),
        cn AS (SELECT clang, sqrt(sum(CAST(cc * cc AS DOUBLE))) AS cnorm
               FROM cent GROUP BY 1),
        scored AS (
            SELECT dv.doc_id, cent.clang,
                   round(sum(CAST(dv.c * cent.cc AS DOUBLE))
                         / (any_value(cn.cnorm) * any_value(dn.dnorm)), 6)
                       AS cos
            FROM dv JOIN cent USING (b)
                 JOIN cn USING (clang) JOIN dn USING (doc_id)
            GROUP BY 1, 2
        ),
        best AS (
            SELECT doc_id, clang, cos,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY cos DESC, clang ASC) AS rn
            FROM scored
        ),
        pred AS (
            SELECT d.doc_id, d.lang,
                   coalesce(b.clang, 'und') AS lang_pred,
                   coalesce(round(b.cos, 4), 0.0) AS conf
            FROM documents d
            LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
        )
"""

ORACLES.update({
    # the shared classifier CTE aggregated to the confusion matrix,
    # confidence summed in integer basis points
    "lang_id_ngram_docs": f"""
        WITH {_LANG_PRED_CTES}
        SELECT lang, lang_pred, count(*) AS n_docs,
               CAST(sum(round(conf * 10000)) AS BIGINT) AS sum_conf_bp
        FROM pred GROUP BY 1, 2
    """,
    # the classifier CTE + integer confusion counts; metric divisions
    # are exact (tp / n_pred etc. of integers)
    "lang_id_metrics_docs": f"""
        WITH {_LANG_PRED_CTES},
        cm AS (SELECT lang AS y, lang_pred AS p, count(*) AS n
               FROM pred GROUP BY 1, 2),
        by_true AS (
            SELECT y AS class, sum(n) AS n_true,
                   sum(CASE WHEN y IS NOT DISTINCT FROM p THEN n END) AS tp_t
            FROM cm GROUP BY 1
        ),
        by_pred AS (SELECT p AS class, sum(n) AS n_pred FROM cm GROUP BY 1),
        j AS (
            SELECT coalesce(t.class, q.class) AS class,
                   CAST(coalesce(t.n_true, 0) AS BIGINT) AS n_true,
                   CAST(coalesce(q.n_pred, 0) AS BIGINT) AS n_pred,
                   CAST(coalesce(t.tp_t, 0) AS BIGINT) AS tp
            FROM by_true t FULL OUTER JOIN by_pred q
                 ON t.class IS NOT DISTINCT FROM q.class
        )
        SELECT class, n_true, n_pred, tp,
               CASE WHEN n_pred > 0
                    THEN round(CAST(tp AS DOUBLE) / n_pred, 4) END AS precision,
               CASE WHEN n_true > 0
                    THEN round(CAST(tp AS DOUBLE) / n_true, 4) END AS recall,
               CASE WHEN n_pred > 0 AND n_true > 0 THEN
                    CASE WHEN tp > 0
                         THEN round(2.0 * tp / (n_pred + n_true), 4)
                         ELSE 0.0 END
               END AS f1
        FROM j
    """,
    # same per-distinct-value cumulative ECDF difference
    "ks_drift_events": """
        WITH tagged AS (
            SELECT round(value, 3) AS v,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
                   CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS b
            FROM events WHERE event_type IN ('click', 'error')
        ),
        per_val AS (
            SELECT v, sum(a) AS na, sum(b) AS nb FROM tagged GROUP BY v
        ),
        cum AS (
            SELECT sum(na) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS ca,
                   sum(nb) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cb,
                   sum(na) OVER () AS ta,
                   sum(nb) OVER () AS tb
            FROM per_val
        )
        SELECT CAST(max(ta) AS BIGINT) AS n_a,
               CAST(max(tb) AS BIGINT) AS n_b,
               round(max(abs(CAST(ca AS DOUBLE) / ta
                             - CAST(cb AS DOUBLE) / tb)), 6) AS ks_stat
        FROM cum
    """,
    # ascending-share rank Gini, integer sums until one division
    "source_gini_docs": """
        WITH shares AS (
            SELECT source, count(*) AS x FROM documents GROUP BY 1
        ),
        ranked AS (
            SELECT x, row_number() OVER (ORDER BY x ASC, source ASC) AS i
            FROM shares
        )
        SELECT count(*) AS n_groups,
               CAST(sum(x) AS BIGINT) AS total_weight,
               round((2.0 * sum(i * x)) / (count(*) * sum(x))
                     - (count(*) + 1.0) / count(*), 6) AS gini
        FROM ranked
    """,
    # integer ceil-division padding arithmetic per candidate length
    "padding_waste_docs": f"""
        WITH toks AS (
            SELECT len({_TOKENS}) AS n_tok FROM documents
        ),
        tagged AS (
            SELECT n_tok, seq_len,
                   CAST(ceil(CAST(n_tok AS DOUBLE) / seq_len) AS BIGINT)
                       AS n_seq
            FROM toks, unnest([128, 256, 512, 1024]) AS u(seq_len)
            WHERE n_tok > 0
        ),
        agg AS (
            SELECT CAST(seq_len AS INTEGER) AS seq_len,
                   count(*) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                   CAST(sum(n_seq) AS BIGINT) AS n_sequences,
                   CAST(sum(n_seq * seq_len - n_tok) AS BIGINT) AS pad_tokens
            FROM tagged GROUP BY 1
        )
        SELECT seq_len, n_docs, total_tokens, n_sequences, pad_tokens,
               round(CAST(pad_tokens AS DOUBLE)
                     / (pad_tokens + total_tokens), 4) AS pad_ratio
        FROM agg
    """,
    # same integer count ratios -> one ln; min-count floor; top-100 by
    # (pmi desc, w1, w2)
    "pmi_collocations_docs": f"""
        WITH toks AS (
            SELECT list_transform({_TOKENS}, x -> lower(x)) AS ts
            FROM documents
        ),
        bg AS (
            SELECT ts[p] AS w1, ts[p + 1] AS w2
            FROM (SELECT ts, unnest(range(1, len(ts))) AS p FROM toks)
        ),
        uni AS (SELECT unnest(ts) AS w FROM toks),
        c12 AS (SELECT w1, w2, count(*) AS n_pair FROM bg GROUP BY 1, 2),
        c1 AS (SELECT w AS w1, count(*) AS n_w1 FROM uni GROUP BY 1),
        c2 AS (SELECT w AS w2, count(*) AS n_w2 FROM uni GROUP BY 1),
        tot AS (SELECT (SELECT count(*) FROM bg) AS t_pair,
                       (SELECT count(*) FROM uni) AS t_uni)
        SELECT w1, w2, n_pair,
               round(ln((CAST(n_pair AS DOUBLE) / t_pair)
                        / ((CAST(n_w1 AS DOUBLE) / t_uni)
                           * (CAST(n_w2 AS DOUBLE) / t_uni))), 4) AS pmi
        FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2), tot
        WHERE n_pair >= 5
        ORDER BY pmi DESC, w1 ASC, w2 ASC
        LIMIT 100
    """,
    # quantile_cont == Spark exact percentile (established contract);
    # zero-IQR groups scale to 0.0
    "robust_scale_orders": """
        WITH cuts AS (
            SELECT o_orderpriority,
                   quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS med,
                   quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75)
                   - quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25) AS iqr
            FROM orders GROUP BY 1
        )
        SELECT o.o_orderkey, o.o_orderpriority,
               round(c.med, 4) AS med, round(c.iqr, 4) AS iqr,
               CASE WHEN c.iqr > 0
                    THEN round((CAST(o.o_totalprice AS DOUBLE) - c.med)
                               / c.iqr, 4)
                    ELSE 0.0 END AS scaled
        FROM orders o JOIN cuts c USING (o_orderpriority)
    """,
    # parse∘build = id: every parsed field is the source field
    "xml_roundtrip_events": """
        SELECT event_id, event_id AS xml_id, user_id AS xml_user,
               event_type AS xml_type
        FROM events WHERE event_id < 500
    """,
    # identical hourly aggregate + TIME-BASED lag-24h/lag-1h MAE
    # comparison (self-joins on h - INTERVAL, matching the operator's
    # missing-hour-safe alignment)
    "seasonal_naive_events": """
        WITH hourly AS (
            -- non-finite observations are missing (matches the
            -- operator's filter; NaN would poison the hour then
            -- overflow the micro-unit integer cast)
            SELECT event_type AS g, date_trunc('hour', ts) AS h,
                   round(sum(value), 6) AS v
            FROM events
            WHERE value IS NOT NULL AND isfinite(value)
            GROUP BY 1, 2
            -- micro-unit parity envelope (matches the operator): hours
            -- whose |sum| exceeds 1e8 are excluded on both engines
            HAVING abs(round(sum(value), 6)) <= 1e8
        ),
        lagged AS (
            SELECT h.g, h.v, p24.v AS vp, p1.v AS v1
            FROM hourly h
            LEFT JOIN hourly p24
              ON p24.g = h.g AND p24.h = h.h - INTERVAL 24 HOURS
            LEFT JOIN hourly p1
              ON p1.g = h.g AND p1.h = h.h - INTERVAL 1 HOUR
        ),
        micro AS (
            -- integer micro-unit errors: order-independent sums make
            -- the MAE bit-identical across engines (see operator)
            SELECT g,
                   CAST(round(abs(v - vp) * 1e6) AS BIGINT) AS dp,
                   CAST(round(abs(v - v1) * 1e6) AS BIGINT) AS d1
            FROM lagged
        ),
        agg AS (
            -- half-up 4dp rounding in INTEGER arithmetic (matches the
            -- operator; engine round(double,4) diverges on .00005)
            SELECT g AS event_type, count(*) AS n_hours,
                   CASE WHEN count(dp) > 0 THEN
                       CAST((2*sum(dp) + 100*count(dp))
                            // (200*count(dp)) AS DOUBLE) / 1e4
                   END AS mae_seasonal,
                   CASE WHEN count(d1) > 0 THEN
                       CAST((2*sum(d1) + 100*count(d1))
                            // (200*count(d1)) AS DOUBLE) / 1e4
                   END AS mae_naive
            FROM micro GROUP BY 1
        )
        SELECT event_type, n_hours, mae_seasonal, mae_naive,
               CASE WHEN mae_naive > 0
                    THEN round(mae_seasonal / mae_naive, 4) END AS mase_ratio
        FROM agg
    """,
    # the same anchored min-aggregation chain: each step's anchor is
    # the earliest event strictly after the previous step's anchor
    "funnel_steps_events": """
        WITH s1 AS (SELECT user_id, min(ts) AS a FROM events
                    WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT e.user_id, min(e.ts) AS a FROM events e
               JOIN s1 USING (user_id)
               WHERE e.event_type = 'click' AND e.ts > s1.a GROUP BY 1),
        s3 AS (SELECT e.user_id, min(e.ts) AS a FROM events e
               JOIN s2 USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts > s2.a GROUP BY 1)
        SELECT 1 AS step_idx, 'view' AS step_name,
               (SELECT count(*) FROM s1) AS n_users
        UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
    """,
    # exact all-pairs asymmetric containment ground truth: the Spark
    # side's prefix-filtered candidates + join-algebra verify must
    # reproduce it bit-for-bit (recall AND ratio math both checked)
    "containment_join_docs": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKENS} AS ts FROM documents WHERE doc_id < 200
        ),
        g AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(0, len(ts) - 2),
                       i -> array_to_string(list_slice(ts, i + 1, i + 3), ' ')
                   )) AS gs
            FROM toks WHERE len(ts) >= 3
        )
        SELECT id_a, id_b, round(raw_c, 4) AS containment
        FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                       / len(a.gs) AS raw_c
            FROM g a JOIN g b ON a.doc_id <> b.doc_id
        )
        WHERE raw_c >= 0.4
    """,
    # identical rank/frequency regression: deterministic top-100 ties
    # (count desc, token asc), ln/ln OLS slope = covar_pop/var_pop
    "zipf_slope_docs": f"""
        WITH tk AS (SELECT lang, unnest({_TOKENS}) AS t FROM documents),
        counts AS (SELECT lang, t, count(*) AS c FROM tk GROUP BY 1, 2),
        ranked AS (
            SELECT lang, c,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY c DESC, t ASC) AS r
            FROM counts
            QUALIFY r <= 100
        )
        SELECT lang, count(*) AS n_terms,
               round(regr_slope(ln(CAST(c AS DOUBLE)),
                                ln(CAST(r AS DOUBLE))), 4) AS zipf_slope
        FROM ranked GROUP BY lang
    """,
    # same top-50 vocabulary cut (count desc, token asc), occurrence-
    # level OOV counts — integers end to end, rate an exact division
    "oov_rate_docs": f"""
        WITH tk AS (SELECT doc_id, unnest({_TOKENS}) AS t FROM documents),
        counts AS (SELECT t, count(*) AS c FROM tk GROUP BY 1),
        vocab AS (SELECT t FROM counts ORDER BY c DESC, t ASC LIMIT 50),
        per AS (
            SELECT tk.doc_id, count(*) AS n_tok,
                   sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS n_oov
            FROM tk LEFT JOIN vocab v USING (t) GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(coalesce(p.n_tok, 0) AS BIGINT) AS n_tok,
               CAST(coalesce(p.n_oov, 0) AS BIGINT) AS n_oov,
               CASE WHEN coalesce(p.n_tok, 0) > 0
                    THEN round(CAST(p.n_oov AS DOUBLE) / p.n_tok, 4)
                    ELSE 0.0 END AS oov_rate
        FROM documents d LEFT JOIN per p USING (doc_id)
    """,
    # identical per-vector symmetric int8 quantization in list algebra:
    # same scale, same half-away-from-zero rounding, same audits
    "sq8_quantize_embeddings": """
        WITH q AS (
            SELECT vec_id, embedding,
                   list_max(list_transform(
                       embedding, v -> abs(CAST(v AS DOUBLE)))) AS ma
            FROM embeddings
        ),
        c AS (
            SELECT vec_id, embedding, ma, ma / 127.0 AS scale,
                   CASE WHEN ma > 0 THEN list_transform(
                            embedding,
                            v -> CAST(round(CAST(v AS DOUBLE)
                                            / (ma / 127.0)) AS INTEGER))
                        ELSE list_transform(embedding, v -> 0)
                   END AS codes
            FROM q
        )
        SELECT vec_id, codes AS sq_codes,
               round(scale, 9) AS sq_scale,
               round(list_max(list_transform(
                   range(1, len(embedding) + 1),
                   i -> abs(CAST(embedding[i] AS DOUBLE)
                            - codes[i] * scale))), 9) AS max_abs_err,
               CAST(list_sum(codes) AS BIGINT) AS sum_codes,
               CAST(list_sum(list_transform(codes, x -> abs(x)))
                    AS BIGINT) AS sum_abs_codes
        FROM c
    """,
    # the shared classifier CTE aggregated to the confusion matrix,
    # confidence summed in basis points (defined below as a module
    # constant; rebound here after _LANG_PRED_CTES exists)
    # chosen = max(score, ties lowest id); rejected = min(score, ties
    # highest id); singleton / zero-margin prompts yield no row
    "preference_pairs_docs": f"""
        WITH s AS (
            SELECT doc_id, doc_id % 50 AS prompt,
                   round(((CASE WHEN len(ts) BETWEEN 5 AND 100000
                                THEN 1.0 ELSE 0.0 END)
                          + (CASE WHEN CAST(len(list_distinct(ts)) AS DOUBLE)
                                       / greatest(CAST(len(ts) AS DOUBLE),
                                                  1.0) >= 0.2
                                  THEN 1.0
                                  ELSE (CAST(len(list_distinct(ts)) AS DOUBLE)
                                        / greatest(CAST(len(ts) AS DOUBLE),
                                                   1.0)) / 0.2 END)
                          + (CASE WHEN CAST(len(list_filter(ts,
                                       x -> list_contains({STOPWORDS_SQL},
                                                          x))) AS DOUBLE)
                                       / greatest(CAST(len(ts) AS DOUBLE),
                                                  1.0)
                                       BETWEEN 0.01 AND 0.6
                                  THEN 1.0 ELSE 0.5 END)) / 3.0, 4) AS q
            FROM (SELECT doc_id, {_TOKENS} AS ts FROM documents)
        ),
        r AS (SELECT *,
                     row_number() OVER (PARTITION BY prompt
                         ORDER BY q DESC, doc_id) AS rb,
                     row_number() OVER (PARTITION BY prompt
                         ORDER BY q ASC, doc_id DESC) AS rw
              FROM s)
        SELECT b.prompt,
               b.doc_id AS chosen_id, w.doc_id AS rejected_id,
               b.q AS chosen_score, w.q AS rejected_score,
               b.q - w.q AS margin
        FROM (SELECT * FROM r WHERE rb = 1) b
        JOIN (SELECT * FROM r WHERE rw = 1) w USING (prompt)
        WHERE b.q > w.q
    """,
})

ORACLES.update({
    # unrolled spherical Lloyd: init = 4 lowest-id rows, two
    # assign→mean updates, final assignment — every boundary rounded
    # to 6dp exactly as the operator does (the pagerank unroll pattern)
    "kmeans_cluster_embeddings": """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
                   FROM embeddings),
        init AS (SELECT vec_id, ve FROM v ORDER BY vec_id LIMIT 4),
        c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                      list_transform(ve, x -> round(x, 6)) AS cv
               FROM init),
        a1 AS (SELECT vec_id, ve, cid,
                      row_number() OVER (PARTITION BY vec_id
                          ORDER BY round(list_cosine_similarity(ve, cv),
                                         6) DESC, cid) AS rn
               FROM v CROSS JOIN c0),
        m1 AS (SELECT cid, pos, round(avg(x), 6) AS mx
               FROM (SELECT cid, unnest(ve) AS x,
                            generate_subscripts(ve, 1) AS pos
                     FROM a1 WHERE rn = 1)
               GROUP BY cid, pos),
        c1 AS (SELECT cid, list(mx ORDER BY pos) AS cv FROM m1
               GROUP BY cid),
        a2 AS (SELECT vec_id, ve, cid,
                      row_number() OVER (PARTITION BY vec_id
                          ORDER BY round(list_cosine_similarity(ve, cv),
                                         6) DESC, cid) AS rn
               FROM v CROSS JOIN c1),
        m2 AS (SELECT cid, pos, round(avg(x), 6) AS mx
               FROM (SELECT cid, unnest(ve) AS x,
                            generate_subscripts(ve, 1) AS pos
                     FROM a2 WHERE rn = 1)
               GROUP BY cid, pos),
        c2 AS (SELECT cid, list(mx ORDER BY pos) AS cv FROM m2
               GROUP BY cid),
        af AS (SELECT vec_id, cid,
                      round(list_cosine_similarity(ve, cv), 6) AS sim,
                      row_number() OVER (PARTITION BY vec_id
                          ORDER BY round(list_cosine_similarity(ve, cv),
                                         6) DESC, cid) AS rn
               FROM v CROSS JOIN c2)
        SELECT cid AS cluster_id, count(*) AS n_points,
               round(avg(sim), 6) AS avg_sim, min(vec_id) AS min_vec_id
        FROM af WHERE rn = 1
        GROUP BY cid
    """,
})

ORACLES.update({
    # identical decorated fixture rebuilt with chr() concatenation;
    # utf8proc's nfc_normalize vs CPython's unicodedata must agree
    "unicode_nfc_docs": """
        WITH d AS (
            SELECT doc_id, lang,
                   substr(text, 1, 40) ||
                   substr('e' || chr(769) || 'a' || chr(768), 1,
                          (doc_id % 3) * 2) AS raw
            FROM documents
        ),
        n AS (SELECT lang, raw, nfc_normalize(raw) AS nfc FROM d)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(length(raw)) AS BIGINT) AS raw_chars,
               CAST(sum(length(nfc)) AS BIGINT) AS nfc_chars,
               sum(CASE WHEN raw <> nfc THEN 1 ELSE 0 END) AS n_changed
        FROM n GROUP BY lang
    """,
})

ORACLES.update({
    # same portable md5 buckets, exact integer counts, add-0.5
    # smoothed log-ratio; only the final per-doc mean is rounded
    "dsir_importance_docs": """
        WITH tb AS (
            SELECT doc_id, lang,
                   CAST(('0x' || substring(md5(tok), 1, 15))::UBIGINT
                        % 1024 AS BIGINT) AS b
            FROM (SELECT doc_id, lang, unnest({TOKENS}) AS tok
                  FROM documents)
        ),
        rd AS (SELECT b, count(*) AS rn FROM tb GROUP BY b),
        td AS (SELECT b, count(*) AS tn FROM tb WHERE lang = 'en'
               GROUP BY b),
        tot AS (SELECT (SELECT sum(rn) FROM rd) AS R,
                       (SELECT sum(tn) FROM td) AS T),
        ratio AS (
            SELECT rd.b,
                   ln((coalesce(tn, 0) + 0.5) / (T + 0.5 * 1024))
                 - ln((rn + 0.5) / (R + 0.5 * 1024)) AS lr
            FROM rd LEFT JOIN td USING (b), tot
        )
        SELECT doc_id, count(*) AS n_tokens,
               round(avg(lr), 6) AS dsir_weight
        FROM tb JOIN ratio USING (b)
        GROUP BY doc_id
    """.replace("{TOKENS}", _TOKENS),
})

ORACLES.update({
    # ordered string_agg rebuild + the same cumulative-length window;
    # md5 equality pins the transcript byte-for-byte
    "chat_transcripts_docs": """
        WITH turns AS (
            SELECT doc_id % 25 AS conv_id, doc_id AS turn,
                   CASE WHEN (doc_id // 25) % 2 = 0
                        THEN 'user' ELSE 'assistant' END AS role,
                   substr(text, 1, 60) AS txt
            FROM documents
        ),
        seg AS (SELECT *, '<|' || role || '|>' || txt || chr(10) AS s
                FROM turns),
        off AS (
            SELECT *,
                   coalesce(sum(length(s)) OVER (
                       PARTITION BY conv_id ORDER BY turn
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS prior
            FROM seg
        )
        SELECT conv_id, count(*) AS n_turns,
               md5(string_agg(s, '' ORDER BY turn)) AS transcript_md5,
               CAST(sum(length(s)) AS BIGINT) AS transcript_chars,
               coalesce(list(prior + length(role) + 5 ORDER BY turn)
                            FILTER (WHERE role = 'assistant'),
                        []) AS mask_starts,
               coalesce(list(prior + length(role) + 5 + length(txt)
                             ORDER BY turn)
                            FILTER (WHERE role = 'assistant'),
                        []) AS mask_ends
        FROM off
        GROUP BY conv_id
    """,
})

ORACLES.update({
    # same cur-table construction; statuses classified by DIRECT column
    # comparison — must match the operator's md5-fingerprint mechanism
    "table_diff_docs": """
        WITH prev AS (SELECT * FROM documents),
        base AS (SELECT * FROM prev WHERE doc_id % 17 <> 3),
        edited AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 13 = 5 THEN text || ' [edited]'
                        ELSE text END AS text,
                   lang, source, n_chars
            FROM base
        ),
        added AS (SELECT doc_id + 1000000 AS doc_id, text, lang,
                         source, n_chars
                  FROM prev WHERE doc_id % 29 = 11),
        cur AS (SELECT * FROM edited UNION ALL SELECT * FROM added),
        j AS (
            SELECT coalesce(c.doc_id, p.doc_id) AS doc_id,
                   CASE WHEN p.doc_id IS NULL THEN 'added'
                        WHEN c.doc_id IS NULL THEN 'removed'
                        WHEN (c.text IS DISTINCT FROM p.text)
                          OR (c.lang IS DISTINCT FROM p.lang)
                          OR (c.source IS DISTINCT FROM p.source)
                          OR (c.n_chars IS DISTINCT FROM p.n_chars)
                        THEN 'changed'
                        ELSE 'unchanged' END AS diff_status
            FROM cur c FULL OUTER JOIN prev p USING (doc_id)
        )
        SELECT diff_status, count(*) AS n,
               min(doc_id) AS min_id, max(doc_id) AS max_id
        FROM j GROUP BY diff_status
    """,
})

ORACLES.update({
    # footer stats recomputed FROM THE DATA: the footer must agree
    # with a full scan for data skipping to be sound
    "parquet_footer_stats_lineitem": """
        SELECT 'l_orderkey' AS column_name, count(*) AS n_values,
               count(*) - count(l_orderkey) AS n_nulls,
               min(l_orderkey) AS min_value, max(l_orderkey) AS max_value
        FROM lineitem
        UNION ALL
        SELECT 'l_partkey', count(*), count(*) - count(l_partkey),
               min(l_partkey), max(l_partkey) FROM lineitem
        UNION ALL
        SELECT 'l_suppkey', count(*), count(*) - count(l_suppkey),
               min(l_suppkey), max(l_suppkey) FROM lineitem
    """,
})

ORACLES.update({
    # fit (1 iteration) on the base slice, assign the batch, exact
    # weighted-mean merge; untouched clusters = same formula with
    # coalesce(0); every boundary rounded to 6dp like the operator
    "kmeans_incremental_embeddings": """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
                   FROM embeddings),
        base AS (SELECT * FROM v WHERE vec_id % 5 <> 0),
        newb AS (SELECT * FROM v WHERE vec_id % 5 = 0),
        init AS (SELECT vec_id, ve FROM base ORDER BY vec_id LIMIT 4),
        c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                      list_transform(ve, x -> round(x, 6)) AS cv
               FROM init),
        a1 AS (SELECT vec_id, ve, cid,
                      row_number() OVER (PARTITION BY vec_id
                          ORDER BY round(list_cosine_similarity(ve, cv),
                                         6) DESC, cid) AS rn
               FROM base CROSS JOIN c0),
        s1 AS (SELECT vec_id, ve, cid FROM a1 WHERE rn = 1),
        m1 AS (SELECT cid, pos, round(avg(x), 6) AS mx
               FROM (SELECT cid, unnest(ve) AS x,
                            generate_subscripts(ve, 1) AS pos
                     FROM s1)
               GROUP BY cid, pos),
        c1 AS (SELECT cid, list(mx ORDER BY pos) AS cv FROM m1
               GROUP BY cid),
        -- the model's member counts are the s1 assignment that
        -- PRODUCED c1 (what kmeans_lloyd returns as its state), so the
        -- weighted merge is an exact refit over members + batch
        nb AS (SELECT cid, count(*) AS n FROM s1 GROUP BY cid),
        a2 AS (SELECT vec_id, ve, cid,
                      row_number() OVER (PARTITION BY vec_id
                          ORDER BY round(list_cosine_similarity(ve, cv),
                                         6) DESC, cid) AS rn
               FROM newb CROSS JOIN c1),
        s2 AS (SELECT vec_id, ve, cid FROM a2 WHERE rn = 1),
        mc AS (SELECT cid, count(*) AS m FROM s2 GROUP BY cid),
        bs AS (SELECT cid, pos, sum(x) AS s
               FROM (SELECT cid, unnest(ve) AS x,
                            generate_subscripts(ve, 1) AS pos
                     FROM s2)
               GROUP BY cid, pos),
        merged AS (
            SELECT m1.cid, m1.pos,
                   round((m1.mx * nb.n + coalesce(bs.s, 0))
                         / (nb.n + coalesce(mc.m, 0)), 6) AS cm,
                   coalesce(mc.m, 0) AS n_new,
                   nb.n + coalesce(mc.m, 0) AS n_total
            FROM m1
            JOIN nb USING (cid)
            LEFT JOIN mc USING (cid)
            LEFT JOIN bs ON bs.cid = m1.cid AND bs.pos = m1.pos
        )
        SELECT cid AS cluster_id,
               CAST(any_value(n_new) AS BIGINT) AS n_new,
               CAST(any_value(n_total) AS BIGINT) AS n_total,
               round(sum(cm), 6) AS c_sum
        FROM merged
        GROUP BY cid
    """,
})

ORACLES.update({
    # fixture parameters recomputed arithmetically — no parsing:
    # equality proves parse(build(params)) returns exactly params
    "mp4_probe_docs": """
        SELECT doc_id,
               CAST(4 AS INT) AS n_top_boxes,
               'isom' AS major_brand,
               CAST(600 + (doc_id % 4) * 300 AS BIGINT) AS timescale,
               CAST(doc_id * 100 + 90 AS BIGINT) AS duration,
               CAST(1 + doc_id % 3 AS INT) AS n_tracks
        FROM documents WHERE doc_id < 150
    """,
})


ORACLES.update({
    # identical to kmeans_incremental_embeddings: the streamed store's
    # sufficient statistics commute, so drained == one-shot update
    "stream_kmeans_intake_parity": """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
                   FROM embeddings),
        base AS (SELECT * FROM v WHERE vec_id % 5 <> 0),
        newb AS (SELECT * FROM v WHERE vec_id % 5 = 0),
        init AS (SELECT vec_id, ve FROM base ORDER BY vec_id LIMIT 4),
        c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                      list_transform(ve, x -> round(x, 6)) AS cv
               FROM init),
        a1 AS (SELECT vec_id, ve, cid,
                      row_number() OVER (PARTITION BY vec_id
                          ORDER BY round(list_cosine_similarity(ve, cv),
                                         6) DESC, cid) AS rn
               FROM base CROSS JOIN c0),
        s1 AS (SELECT vec_id, ve, cid FROM a1 WHERE rn = 1),
        m1 AS (SELECT cid, pos, round(avg(x), 6) AS mx
               FROM (SELECT cid, unnest(ve) AS x,
                            generate_subscripts(ve, 1) AS pos
                     FROM s1)
               GROUP BY cid, pos),
        c1 AS (SELECT cid, list(mx ORDER BY pos) AS cv FROM m1
               GROUP BY cid),
        -- the model's member counts are the s1 assignment that
        -- PRODUCED c1 (what kmeans_lloyd returns as its state), so the
        -- weighted merge is an exact refit over members + batch
        nb AS (SELECT cid, count(*) AS n FROM s1 GROUP BY cid),
        a2 AS (SELECT vec_id, ve, cid,
                      row_number() OVER (PARTITION BY vec_id
                          ORDER BY round(list_cosine_similarity(ve, cv),
                                         6) DESC, cid) AS rn
               FROM newb CROSS JOIN c1),
        s2 AS (SELECT vec_id, ve, cid FROM a2 WHERE rn = 1),
        mc AS (SELECT cid, count(*) AS m FROM s2 GROUP BY cid),
        bs AS (SELECT cid, pos, sum(x) AS s
               FROM (SELECT cid, unnest(ve) AS x,
                            generate_subscripts(ve, 1) AS pos
                     FROM s2)
               GROUP BY cid, pos),
        merged AS (
            SELECT m1.cid, m1.pos,
                   round((m1.mx * nb.n + coalesce(bs.s, 0))
                         / (nb.n + coalesce(mc.m, 0)), 6) AS cm,
                   coalesce(mc.m, 0) AS n_new,
                   nb.n + coalesce(mc.m, 0) AS n_total
            FROM m1
            JOIN nb USING (cid)
            LEFT JOIN mc USING (cid)
            LEFT JOIN bs ON bs.cid = m1.cid AND bs.pos = m1.pos
        )
        SELECT cid AS cluster_id,
               CAST(any_value(n_new) AS BIGINT) AS n_new,
               CAST(any_value(n_total) AS BIGINT) AS n_total,
               round(sum(cm), 6) AS c_sum
        FROM merged
        GROUP BY cid
    """,
})

ORACLES.update({
    # bigram multiset rebuilt by positional slicing, distinct vs total
    "distinct_ngram_docs": """
        WITH toks AS (
            SELECT doc_id, source, {TOKENS} AS ts FROM documents
        ),
        g AS (SELECT source, ts[p] || ' ' || ts[p + 1] AS gram
              FROM (SELECT source, ts,
                           unnest(range(1, len(ts))) AS p
                    FROM toks WHERE len(ts) >= 2))
        SELECT source, count(*) AS n_grams,
               count(DISTINCT gram) AS n_distinct,
               round(count(DISTINCT gram) * 1.0 / count(*), 6)
                   AS distinct_ratio
        FROM g GROUP BY source
    """.replace("{TOKENS}", _TOKENS),
})

ORACLES.update({
    # per-lang p05/p95 via quantile_cont (same interpolation as
    # Spark's exact percentile — proven by percentiles_orders)
    "adaptive_length_docs": """
        WITH toks AS (
            SELECT lang, len({TOKENS}) AS n_tok FROM documents
        ),
        cuts AS (SELECT lang,
                        quantile_cont(n_tok, 0.05) AS len_lo,
                        quantile_cont(n_tok, 0.95) AS len_hi
                 FROM toks GROUP BY lang)
        -- null-safe join: a NULL lang is its own cohort with its own
        -- thresholds (matches the operator's eqNullSafe join-back)
        SELECT t.lang AS lang, count(*) AS n_docs,
               sum(CASE WHEN t.n_tok BETWEEN c.len_lo AND c.len_hi
                        THEN 1 ELSE 0 END) AS n_pass,
               round(any_value(c.len_lo), 6) AS len_lo,
               round(any_value(c.len_hi), 6) AS len_hi
        FROM toks t JOIN cuts c ON t.lang IS NOT DISTINCT FROM c.lang
        GROUP BY t.lang
    """.replace("{TOKENS}", _TOKENS),
})

ORACLES.update({
    # BFS levels == min recursion depth per node over the same
    # functional graph; UNION (distinct) guarantees termination
    "bfs_distances_docs": """
        WITH RECURSIVE e AS (
            SELECT doc_id AS src, (doc_id * 31 + 7) % 400 AS dst
            FROM documents
        ),
        walk(node, d) AS (
            SELECT CAST(0 AS BIGINT), 0
            UNION
            SELECT e.dst, walk.d + 1
            FROM walk JOIN e ON e.src = walk.node
            WHERE walk.d < 30
        )
        SELECT node, CAST(min(d) AS INT) AS dist
        FROM walk GROUP BY node
    """,
})


# ---------------------------------------------------------------------------
# Output-type alignment.
#
# The driver's hash comparison is type-sensitive: both result sets are
# canonicalized through Arrow/pandas, so a DuckDB HUGEINT (a bare
# ``sum(CASE ...)`` materializes as ``decimal128(38,0)`` -> Python
# ``Decimal``) hash-fails against a Spark ``bigint`` even when every
# value is bit-identical.  That exact gap kept ``blocklist_filter_docs``
# driver-red for rounds 4-6 while the local gate (which normalized
# ``Decimal -> float``) stayed green.
#
# Rather than scatter CASTs through 4,800 lines of SQL, every oracle
# whose Arrow output type diverges from its Spark twin is wrapped here
# with DuckDB's ``SELECT * REPLACE`` -- column names and order are
# preserved, only the named columns are cast.  The map below is the
# authoritative list; ``tools/check_oracle.py`` compares Arrow schemas
# on every run, so any new divergence fails the local gate immediately.
_OUTPUT_CASTS: dict[str, dict[str, str]] = {
    # DuckDB HUGEINT (decimal128(38,0)) vs Spark bigint -- the class
    # that provably fails the driver hash (values bit-identical).
    "blocklist_filter_docs": {"n_passing": "BIGINT"},
    "blocklist_lexicon_docs": {"n_passing": "BIGINT"},
    "q12_late_shipment_priority": {"high_line_count": "BIGINT",
                                   "low_line_count": "BIGINT"},
    "expectations_orders": {"n_failed": "BIGINT"},
    "argmax_agg_family": {"n_f": "BIGINT"},
    "zipf_fit_tokens": {"n_tokens": "BIGINT"},
    "char_entropy_docs": {"n_chars": "BIGINT"},
    "line_dedup_within_doc": {"kept_segments": "BIGINT",
                              "dropped_segments": "BIGINT"},
    "gopher_quality_docs": {"fail_word_count": "BIGINT",
                            "fail_mean_word_len": "BIGINT",
                            "fail_symbol_ratio": "BIGINT",
                            "fail_alpha_words": "BIGINT",
                            "fail_required_words": "BIGINT",
                            "fail_line_shape": "BIGINT",
                            "n_pass": "BIGINT"},
    "recursive_cte_rollup": {"sum_roots": "BIGINT"},
    "funnel_stages_events": {"n_signup": "BIGINT",
                             "n_signup_click": "BIGINT",
                             "n_full_funnel": "BIGINT"},
    "inverted_index_docs": {"total_tf": "BIGINT"},
    "encoding_quality_docs": {"total_replacement": "BIGINT",
                              "total_control": "BIGINT",
                              "n_passing": "BIGINT"},
    "unicode_nfc_docs": {"n_changed": "BIGINT"},
    "adaptive_length_docs": {"n_pass": "BIGINT"},
    # int-width alignment (int32 vs int64 both directions) and decimal
    # precision alignment -- not observed to fail the driver, but the
    # local gate is now strict, so every divergence is pinned to the
    # Spark schema here.
    "vocab_coverage_docs": {"v50": "INTEGER", "v90": "INTEGER",
                            "v99": "INTEGER"},
    "decimal_agg": {"sum_price_dec": "DECIMAL(28,2)",
                    "sum_disc_dec": "DECIMAL(34,4)"},
    "regression_robust_stats": {"n": "BIGINT"},
    "q10_returned_items": {"revenue": "DECIMAL(25,2)"},
    "substring_dedup_docs": {"n_removed": "BIGINT"},
    "stats_regression_orders": {"n": "BIGINT"},
    "entity_match_customers": {"dist": "INTEGER"},
    "window_rank_extras": {"quartile": "INTEGER"},
    "rolling_unique_users": {"dau": "INTEGER", "wau7": "INTEGER"},
    "c4_clean_docs": {"n_segments": "INTEGER",
                      "kept_segments": "INTEGER",
                      "dropped_segments": "INTEGER"},
    "format_roundtrip_agg": {"total_price": "DECIMAL(22,2)"},
    "quality_classifier_docs": {"n_tokens": "INTEGER"},
    "bm25_search_docs": {"doc_len": "INTEGER"},
    "kmeans_cluster_embeddings": {"cluster_id": "INTEGER"},
    "kmeans_incremental_embeddings": {"cluster_id": "INTEGER"},
    "stream_kmeans_intake_parity": {"cluster_id": "INTEGER"},
    "chat_transcripts_docs": {"transcript_chars": "INTEGER",
                              "mask_starts": "BIGINT[]",
                              "mask_ends": "BIGINT[]"},
}


def _apply_output_casts() -> None:
    for _name, _casts in _OUTPUT_CASTS.items():
        _repl = ", ".join(f"CAST({c} AS {t}) AS {c}"
                          for c, t in _casts.items())
        ORACLES[_name] = (
            f"SELECT * REPLACE ({_repl}) FROM (\n{ORACLES[_name]}\n)"
        )


_apply_output_casts()


# winnowing (Schleimer et al.): identical positional 5-gram md5-prefix
# hashes, identical hash*2^20+pos window-min selection — the integer
# key makes the leftmost-min tie-break engine-exact
_WINNOW_SEL = """
        toks AS (SELECT doc_id, {tokens} AS ts FROM documents{filt}),
        g AS (
            SELECT doc_id, p - 1 AS pos,
                   ('0x' || substring(md5(array_to_string(
                        list_slice(ts, p, p + 4), ' ')), 1, 10))::UBIGINT AS h
            FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 3)) AS p
                  FROM toks WHERE len(ts) >= 5)
        ),
        keyed AS (
            SELECT doc_id, pos, h * 1048576 + pos AS k,
                   count(*) OVER (PARTITION BY doc_id) AS ng
            FROM g
        ),
        win AS (
            SELECT doc_id, pos, ng,
                   min(k) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                       AS sel
            FROM keyed
        ),
        fp AS (
            SELECT DISTINCT doc_id,
                   CAST(sel // 1048576 AS BIGINT) AS fp_hash,
                   CAST(sel % 1048576 AS BIGINT) AS fp_pos
            FROM win WHERE pos <= ng - 4
        )
"""

ORACLES.update({
    "winnowing_fingerprint_docs": "WITH " + _WINNOW_SEL.format(
        tokens=_TOKENS, filt=""
    ) + """
        SELECT doc_id, count(*) AS n_fp,
               min(fp_hash) AS min_fp, max(fp_hash) AS max_fp
        FROM fp GROUP BY doc_id
    """,
    "winnowing_pairs_docs": "WITH " + _WINNOW_SEL.format(
        tokens=_TOKENS, filt=" WHERE doc_id < 300"
    ) + """,
        fph AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
        rare AS (
            SELECT fp_hash FROM fph GROUP BY fp_hash
            HAVING count(*) <= 50
        ),
        kept AS (SELECT f.doc_id, f.fp_hash FROM fph f JOIN rare USING (fp_hash))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        FROM kept a JOIN kept b
          ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 2
    """,
    # identical QI equivalence classes (GROUP BY groups NULL as a value
    # in both engines), histogram over class sizes
    "k_anonymity_histogram_customers": """
        WITH cls AS (
            SELECT c_nationkey, c_mktsegment, count(*) AS sz,
                   count(DISTINCT c_acctbal) AS l
            FROM customer GROUP BY 1, 2
        )
        SELECT sz AS class_size, count(*) AS n_classes,
               CAST(sum(sz) AS BIGINT) AS n_rows,
               min(l) AS min_l
        FROM cls GROUP BY 1
    """,
    # same count/share/skew arithmetic; string-cast key gives both
    # engines the identical binary tie-break at the top-k boundary
    "skew_profile_orders": """
        WITH c AS (
            SELECT CAST(o_custkey AS VARCHAR) AS key, count(*) AS cnt
            FROM orders GROUP BY 1
        ),
        t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
                     count(*) AS nkeys FROM c)
        SELECT key, cnt,
               round(cnt / t.total, 6) AS share,
               round(cnt * t.nkeys / t.total, 4) AS skew_factor,
               CAST(row_number() OVER (ORDER BY cnt DESC, key ASC)
                    AS INTEGER) AS rank
        FROM c, t
        ORDER BY cnt DESC, key ASC
        LIMIT 20
    """,
})


ORACLES.update({
    # same 6dp-rounded cosine ranking contract as embedding_topk; the
    # prefix rankings and the full ranking are separate window ranks,
    # overlap counted on (query, neighbor)
    "mrl_prefix_recall_embeddings": """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e
              WHERE vec_id IN (0, 1, 2)),
        s AS (
            SELECT q.query_id, e.vec_id AS nbr,
               round(list_cosine_similarity(e.v, q.qv), 6) AS cf,
               round(list_cosine_similarity(list_slice(e.v, 1, 8), list_slice(q.qv, 1, 8)), 6) AS c8,
               round(list_cosine_similarity(list_slice(e.v, 1, 16), list_slice(q.qv, 1, 16)), 6) AS c16,
               round(list_cosine_similarity(list_slice(e.v, 1, 32), list_slice(q.qv, 1, 32)), 6) AS c32
            FROM e JOIN q ON e.vec_id <> q.query_id
        ),
        bf AS (
            SELECT query_id, nbr FROM (
                SELECT query_id, nbr,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cf DESC, nbr) AS r
                FROM s) WHERE r <= 10
        ),
        b8 AS (
            SELECT query_id, nbr FROM (
                SELECT query_id, nbr,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY c8 DESC, nbr) AS r
                FROM s) WHERE r <= 10
        ),
        o8 AS (
            SELECT q2.query_id, 8 AS prefix_dim,
                   CAST(coalesce(o.n, 0) AS BIGINT) AS n_overlap
            FROM (SELECT DISTINCT query_id FROM q) q2
            LEFT JOIN (
                SELECT b.query_id, count(*) AS n
                FROM bf b JOIN b8 USING (query_id, nbr) GROUP BY 1
            ) o USING (query_id)
        ),
        b16 AS (
            SELECT query_id, nbr FROM (
                SELECT query_id, nbr,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY c16 DESC, nbr) AS r
                FROM s) WHERE r <= 10
        ),
        o16 AS (
            SELECT q2.query_id, 16 AS prefix_dim,
                   CAST(coalesce(o.n, 0) AS BIGINT) AS n_overlap
            FROM (SELECT DISTINCT query_id FROM q) q2
            LEFT JOIN (
                SELECT b.query_id, count(*) AS n
                FROM bf b JOIN b16 USING (query_id, nbr) GROUP BY 1
            ) o USING (query_id)
        ),
        b32 AS (
            SELECT query_id, nbr FROM (
                SELECT query_id, nbr,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY c32 DESC, nbr) AS r
                FROM s) WHERE r <= 10
        ),
        o32 AS (
            SELECT q2.query_id, 32 AS prefix_dim,
                   CAST(coalesce(o.n, 0) AS BIGINT) AS n_overlap
            FROM (SELECT DISTINCT query_id FROM q) q2
            LEFT JOIN (
                SELECT b.query_id, count(*) AS n
                FROM bf b JOIN b32 USING (query_id, nbr) GROUP BY 1
            ) o USING (query_id)
        )
        SELECT query_id, prefix_dim, n_overlap,
               round(n_overlap / 10.0, 4) AS recall
        FROM (SELECT * FROM o8 UNION ALL SELECT * FROM o16
              UNION ALL SELECT * FROM o32)
    """,
})


ORACLES.update({
    # pairwise co-occurrence lift: same distinct -> basket-cap ->
    # self-equi-join -> totals -> 1-row basket count chain
    "cooccurrence_lift_lineitem": """
        WITH items AS (
            SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
        ),
        kept AS (
            SELECT bk FROM items GROUP BY bk HAVING count(*) <= 1000
        ),
        fi AS (SELECT i.bk, i.it FROM items i JOIN kept USING (bk)),
        nb AS (SELECT count(DISTINCT bk) AS n FROM fi),
        tot AS (SELECT it, count(*) AS n_one FROM fi GROUP BY it),
        pairs AS (
            SELECT a.it AS item_a, b.it AS item_b, count(*) AS n_ab
            FROM fi a JOIN fi b ON a.bk = b.bk AND a.it < b.it
            GROUP BY 1, 2 HAVING count(*) >= 2
        )
        SELECT item_a, item_b, n_ab,
               ta.n_one AS n_a, tb.n_one AS n_b,
               round(n_ab * nb.n / (ta.n_one * tb.n_one), 6) AS lift
        FROM pairs
        JOIN tot ta ON ta.it = item_a
        JOIN tot tb ON tb.it = item_b, nb
        ORDER BY n_ab DESC, item_a, item_b
        LIMIT 50
    """,
    # HBOS: same clamp-before-cast bucketing as psi_drift, eps floor,
    # -ln densities; ties broken by id under the rounded score
    "hbos_outliers_orders": """
        WITH base AS (
            SELECT o_orderkey AS id,
                   CAST(least(9, greatest(0,
                       floor((o_totalprice - 0.0) / 50000.0))) AS INTEGER)
                       AS num_bucket,
                   o_orderpriority AS cat_value
            FROM orders
            WHERE o_totalprice IS NOT NULL AND isfinite(o_totalprice)
        ),
        t AS (SELECT count(*) AS n FROM base),
        nh AS (SELECT num_bucket, count(*) AS nb FROM base GROUP BY 1),
        ch AS (SELECT cat_value, count(*) AS nc FROM base GROUP BY 1)
        SELECT id, b.num_bucket, b.cat_value,
               round(-ln(greatest(nb / t.n, 1e-6))
                     - ln(greatest(nc / t.n, 1e-6)), 6) AS score
        FROM base b
        JOIN nh USING (num_bucket)
        JOIN ch USING (cat_value), t
        ORDER BY score DESC, id
        LIMIT 50
    """,
    # TANE g3: rows kept = sum over determinant classes of the modal
    # dependent count; NULLs group as values on both engines
    "fd_profile_orders": """
        WITH ab1 AS (SELECT o_custkey AS a, o_orderstatus AS b,
                            count(*) AS n
                     FROM orders GROUP BY 1, 2),
        a1 AS (SELECT a, max(n) AS keep, sum(n) AS cnt FROM ab1 GROUP BY 1),
        r1 AS (SELECT 'o_custkey' AS determinant,
                      'o_orderstatus' AS dependent,
                      CAST(sum(cnt) AS BIGINT) AS n_rows,
                      count(*) AS n_distinct_det,
                      CAST(sum(cnt) - sum(keep) AS BIGINT) AS n_violations,
                      round(sum(keep) / sum(cnt), 6) AS confidence
               FROM a1),
        ab2 AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
                       count(*) AS n
                FROM orders GROUP BY 1, 2),
        a2 AS (SELECT a, max(n) AS keep, sum(n) AS cnt FROM ab2 GROUP BY 1),
        r2 AS (SELECT 'o_orderpriority', 'o_orderstatus',
                      CAST(sum(cnt) AS BIGINT), count(*),
                      CAST(sum(cnt) - sum(keep) AS BIGINT),
                      round(sum(keep) / sum(cnt), 6)
               FROM a2),
        ab3 AS (SELECT o_orderkey AS a, o_totalprice AS b, count(*) AS n
                FROM orders GROUP BY 1, 2),
        a3 AS (SELECT a, max(n) AS keep, sum(n) AS cnt FROM ab3 GROUP BY 1),
        r3 AS (SELECT 'o_orderkey', 'o_totalprice',
                      CAST(sum(cnt) AS BIGINT), count(*),
                      CAST(sum(cnt) - sum(keep) AS BIGINT),
                      round(sum(keep) / sum(cnt), 6)
               FROM a3)
        SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL
        SELECT * FROM r3
    """,
    # RBO truncated at k=20, p=0.9: an item at ranks (ra, rb) enters
    # the prefix intersection at depth max(ra, rb); per-depth weights
    # regrouped per item via the same desc-cumulative spine window
    "rbo_rank_agreement_docs": """
        WITH ranked AS (
            SELECT lang AS grp, doc_id,
                   row_number() OVER (PARTITION BY lang
                       ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id) AS ra,
                   row_number() OVER (PARTITION BY lang
                       ORDER BY CAST(len(list_filter(
                           string_split_regex(text, '\\s+'),
                           x -> x <> '')) AS DOUBLE) DESC, doc_id) AS rb
            FROM documents
        ),
        hits AS (
            SELECT grp, greatest(ra, rb) AS e
            FROM ranked WHERE ra <= 20 AND rb <= 20
        ),
        spine AS (SELECT CAST(unnest(range(1, 21)) AS INTEGER) AS d),
        w AS (
            SELECT d AS e,
                   sum(pow(0.9, d - 1) / d) OVER (
                       ORDER BY d DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS wt
            FROM spine
        )
        SELECT grp AS lang, count(*) AS n_common,
               round(sum(wt) * ((1 - 0.9) / (1 - pow(0.9, 20))), 6) AS rbo
        FROM hits JOIN w ON w.e = hits.e
        GROUP BY grp
    """,
})


ORACLES.update({
    # streaming PSI intake == batch psi_drift by count commutativity:
    # the oracle is the identical SQL as psi_drift_events
    "stream_psi_intake_parity": ORACLES["psi_drift_events"],
})


ORACLES.update({
    # same H = ln n - sum(c*ln c)/n identity from exact counts; MI
    # clamped >= 0 against last-ulp noise on independent columns
    "mi_profile_orders": """
        WITH ab1 AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
                            count(*) AS n
                     FROM orders GROUP BY 1, 2),
        sa1 AS (SELECT sum(c * ln(c)) AS s, sum(c) AS nr
                FROM (SELECT sum(n) AS c FROM ab1 GROUP BY a)),
        sb1 AS (SELECT sum(c * ln(c)) AS s
                FROM (SELECT sum(n) AS c FROM ab1 GROUP BY b)),
        sab1 AS (SELECT sum(n * ln(n)) AS s FROM ab1),
        r1 AS (SELECT 'o_orderpriority' AS col_a, 'o_orderstatus' AS col_b,
                      CAST(sa1.nr AS BIGINT) AS n_rows,
                      round(ln(sa1.nr) - sa1.s / sa1.nr, 6) AS h_a,
                      round(ln(sa1.nr) - sb1.s / sa1.nr, 6) AS h_b,
                      round(ln(sa1.nr) - sab1.s / sa1.nr, 6) AS h_ab,
                      round(greatest(
                          (ln(sa1.nr) - sa1.s / sa1.nr)
                          + (ln(sa1.nr) - sb1.s / sa1.nr)
                          - (ln(sa1.nr) - sab1.s / sa1.nr), 0.0), 6) AS mi
               FROM sa1, sb1, sab1),
        ab2 AS (SELECT o_orderstatus AS a, o_orderpriority AS b,
                       count(*) AS n
                FROM orders GROUP BY 1, 2),
        sa2 AS (SELECT sum(c * ln(c)) AS s, sum(c) AS nr
                FROM (SELECT sum(n) AS c FROM ab2 GROUP BY a)),
        sb2 AS (SELECT sum(c * ln(c)) AS s
                FROM (SELECT sum(n) AS c FROM ab2 GROUP BY b)),
        sab2 AS (SELECT sum(n * ln(n)) AS s FROM ab2),
        r2 AS (SELECT 'o_orderstatus', 'o_orderpriority',
                      CAST(sa2.nr AS BIGINT),
                      round(ln(sa2.nr) - sa2.s / sa2.nr, 6),
                      round(ln(sa2.nr) - sb2.s / sa2.nr, 6),
                      round(ln(sa2.nr) - sab2.s / sa2.nr, 6),
                      round(greatest(
                          (ln(sa2.nr) - sa2.s / sa2.nr)
                          + (ln(sa2.nr) - sb2.s / sa2.nr)
                          - (ln(sa2.nr) - sab2.s / sa2.nr), 0.0), 6)
               FROM sa2, sb2, sab2)
        SELECT * FROM r1 UNION ALL SELECT * FROM r2
    """,
})


ORACLES.update({
    # same defect injection + most-fundamental-first status ladder;
    # element predicates via list_filter counts
    "vector_quality_embeddings": """
        WITH c AS (
            SELECT vec_id,
                   CASE
                     WHEN vec_id % 67 = 3 THEN NULL
                     WHEN vec_id % 53 = 0 THEN
                       list_concat(['nan'::FLOAT],
                                   embedding[2:len(embedding)])
                     WHEN vec_id % 59 = 1 THEN embedding[1:10]
                     WHEN vec_id % 61 = 2 THEN
                       list_transform(embedding, x -> 0.0::FLOAT)
                     ELSE embedding
                   END AS v
            FROM embeddings
        ),
        tagged AS (
            SELECT vec_id,
                   CASE
                     WHEN v IS NULL THEN 'null'
                     WHEN len(v) <> 64 THEN 'wrong_dim'
                     WHEN len(list_filter(v, x -> x IS NULL
                              OR isnan(CAST(x AS DOUBLE))
                              OR NOT isfinite(CAST(x AS DOUBLE)))) > 0
                          THEN 'non_finite'
                     WHEN len(list_filter(v,
                              x -> CAST(x AS DOUBLE) <> 0.0)) = 0
                          THEN 'zero_norm'
                     ELSE 'ok'
                   END AS vec_status
            FROM c
        )
        SELECT vec_status, count(*) AS n,
               CAST(sum(vec_id) AS BIGINT) AS id_sum
        FROM tagged GROUP BY vec_status
    """,
})


ORACLES.update({
    # same portable-hash score, long-doc label, spine-join sweep
    "threshold_sweep_docs": """
        WITH base AS (
            SELECT CAST(('0x' || substring(
                       md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                       AS DOUBLE) / 4294967296.0 AS s,
                   n_chars > 400 AS y
            FROM documents
            WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
        ),
        spine AS (SELECT unnest(range(1, 10)) / 10.0 AS threshold),
        agg AS (
            SELECT threshold,
                   count(CASE WHEN s >= threshold THEN 1 END) AS n_flagged,
                   count(CASE WHEN s >= threshold AND y THEN 1 END) AS tp,
                   count(CASE WHEN s >= threshold AND NOT y THEN 1 END) AS fp,
                   count(CASE WHEN s < threshold AND y THEN 1 END) AS fn
            FROM base, spine GROUP BY threshold
        )
        SELECT threshold, n_flagged, tp, fp, fn,
               round(CASE WHEN tp + fp > 0
                          THEN tp / CAST(tp + fp AS DOUBLE) END, 6)
                   AS precision,
               round(CASE WHEN tp + fn > 0
                          THEN tp / CAST(tp + fn AS DOUBLE) END, 6)
                   AS recall,
               round(CASE WHEN 2*tp + fp + fn > 0
                          THEN 2*tp / CAST(2*tp + fp + fn AS DOUBLE) END, 6)
                   AS f1
        FROM agg ORDER BY threshold
    """,
})


ORACLES.update({
    # as-of shape: latest strictly-earlier touch per conversion,
    # (tts, tid) DESC tie-break; unattributed -> NULL channel
    "attribution_last_touch_events": """
        WITH t AS (
            SELECT user_id AS u, ts AS tts, event_type AS channel,
                   event_id AS tid
            FROM events WHERE event_type IN ('click', 'view')
        ),
        c AS (
            SELECT user_id AS u, ts AS cts, event_id AS cid,
                   value AS val
            FROM events WHERE event_type = 'purchase'
        ),
        pick AS (
            SELECT c.cid AS cid, t.channel,
                   row_number() OVER (
                       PARTITION BY c.cid
                       ORDER BY t.tts DESC, t.tid DESC) AS rn
            FROM c JOIN t ON t.u = c.u AND t.tts < c.cts
        )
        SELECT p.channel,
               count(*) AS n_conversions,
               round(coalesce(sum(c.val) FILTER (
                   WHERE c.val IS NOT NULL AND isfinite(c.val)), 0), 2)
                   AS credited_value
        FROM c LEFT JOIN (SELECT cid, channel FROM pick WHERE rn = 1) p
          ON p.cid = c.cid
        GROUP BY p.channel
    """,
    # exact-count kappa with NULL-safe marginals; kappa NULL at pe=1
    "cohen_kappa_docs": """
        WITH d AS (
            SELECT lang AS a,
                   CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS b
            FROM documents
        ),
        cells AS (SELECT a, b, count(*) AS n FROM d GROUP BY a, b),
        tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS t,
                   CAST(coalesce(sum(n) FILTER (
                       WHERE a IS NOT DISTINCT FROM b), 0) AS BIGINT)
                       AS agree
            FROM cells
        ),
        ma AS (SELECT a AS k, sum(n) AS m FROM cells GROUP BY a),
        mb AS (SELECT b AS k, sum(n) AS m FROM cells GROUP BY b),
        pe_num AS (
            SELECT sum(CAST(coalesce(ma.m, 0) AS DOUBLE)
                       * CAST(coalesce(mb.m, 0) AS DOUBLE)) AS s
            FROM ma FULL OUTER JOIN mb
              ON ma.k IS NOT DISTINCT FROM mb.k
        )
        SELECT tot.t AS n_rows,
               round(agree / CAST(t AS DOUBLE), 6) AS po,
               round(pe_num.s / (CAST(t AS DOUBLE) * t), 6) AS pe,
               round(CASE WHEN pe_num.s / (CAST(t AS DOUBLE) * t) < 1.0
                          THEN (agree / CAST(t AS DOUBLE)
                                - pe_num.s / (CAST(t AS DOUBLE) * t))
                               / (1.0 - pe_num.s / (CAST(t AS DOUBLE) * t))
                     END, 6) AS kappa
        FROM tot, pe_num
        WHERE tot.t > 0
    """,
})


def _bpe_encode_merges_sql() -> str:
    """Oracle for bpe_encode_merges_docs, generated from the SAME
    committed merges.txt fixture the Spark query loads.

    Encoding as SQL: each word becomes a chr(31)-delimited symbol
    string (every symbol wrapped as <SEP>sym<SEP>, so a pattern can
    never match inside a larger symbol), then the merge rules apply as
    rank-ordered non-overlapping replace()s. This equals the greedy
    lowest-rank-first encode loop because a TRAINED merge table only
    references symbols that earlier merges (or single characters)
    created — rule k can never re-enable a rule < k — and replace()'s
    leftmost non-overlapping scan matches the greedy loop's leftmost
    tie-break. Token count per word = half the delimiter count; both
    sides pre-tokenize with the engine-portable ASCII \\s+ split.
    Precondition (shared with the Spark side's fixture): text contains
    no chr(31) — the unit-separator control char, absent from every
    corpus profile including the fuzz builders' control-byte rows.
    """
    from ..operators.text import default_merges_path, load_merges

    sep = "chr(31)"

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    expr = (
        "list_aggregate(list_transform(generate_series(1, length(w)), "
        f"i -> {sep} || w[i] || {sep}), 'string_agg', '')"
    )
    for a, b in load_merges(default_merges_path()):
        pat = f"{sep} || {lit(a)} || {sep} || {sep} || {lit(b)} || {sep}"
        rep = f"{sep} || {lit(a + b)} || {sep}"
        expr = f"replace({expr}, {pat}, {rep})"
    return f"""
        WITH words AS (
            SELECT doc_id, unnest({_TOKENS}) AS w
            FROM documents WHERE text IS NOT NULL
        ),
        enc AS (
            SELECT doc_id,
                   (length(x) - length(replace(x, chr(31), ''))) // 2
                       AS n_toks
            FROM (SELECT doc_id, {expr} AS x FROM words)
        )
        SELECT d.doc_id, CAST(coalesce(e.n, 0) AS BIGINT) AS n_tokens
        FROM documents d
        LEFT JOIN (SELECT doc_id, sum(n_toks) AS n
                   FROM enc GROUP BY doc_id) e USING (doc_id)
    """


ORACLES["bpe_encode_merges_docs"] = _bpe_encode_merges_sql()
