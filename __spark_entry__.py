"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship quality-filter pipeline on sf0.001.
``queries()`` exposes one callable per implemented operator (SURVEY.md §2 +
the training-data ops); ``oracle_sql()`` gives the DuckDB-equivalent SQL for
EVERY query (len(queries()) == len(oracle_sql()), pinned by
``tests/test_oracle_assets.py``) — including the model/LSH stages, re-derived in SQL
against committed weight parquets and embedded model constants.  Numeric outputs are integerized (``*_milli`` =
value*1000 rounded to bigint) so cross-engine float formatting can't break
the driver's value hash; every computed column is aliased identically on
both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min sessionization gap

# deterministic ANN query vector (dim 64)
_QUERY_VEC = [round(float(x), 6) for x in np.random.default_rng(4242).standard_normal(64)]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """Scan-parallelism guard — see language_identification_spark.partitioning
    (byte-gated so sub-MB small-sf scans are left alone; a no-op at
    production partition counts)."""
    from language_identification_spark.partitioning import spread_scan

    out, _ = spread_scan(df)
    return out


def _as_source_files(docs: DataFrame) -> DataFrame:
    """Map the driver's documents table onto the input_hint shape."""
    return docs.select(
        F.concat(F.lit("src/"), F.col("source")).alias("repo"),
        F.concat(F.lit("docs/doc"), F.col("doc_id").cast("string"), F.lit(".md")).alias("path"),
        F.sha2(F.encode(F.col("doc_id").cast("string"), "UTF-8"), 256).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: keep/drop + scrub over sf0.001 documents."""
    from language_identification_spark.plans.pipeline import quality_filter

    src = _as_source_files(_docs(spark, "/root/testdata/sf0.001"))
    return quality_filter(src)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_lang_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.functions.lang import (
        canon_lang_col,
        collapse_supported_col,
        primary_lang_col,
    )

    docs = _docs(spark, sf_dir)
    dirty = (
        F.when(F.col("doc_id") % 3 == 0, F.upper(F.col("lang")))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.col("lang"), F.lit("_us")))
        .otherwise(F.col("lang"))
    )
    return (
        docs.withColumn("dirty_lang", dirty)
        .select(
            "dirty_lang",
            canon_lang_col(F.col("dirty_lang")).alias("lang_canon"),
            primary_lang_col(F.col("dirty_lang")).alias("lang_primary"),
            collapse_supported_col(F.col("dirty_lang")).alias("lang_collapsed"),
        )
        .groupBy("dirty_lang", "lang_canon", "lang_primary", "lang_collapsed")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_SQL_LANG_CANON = """
WITH dirty AS (
  SELECT CASE
           WHEN doc_id % 3 = 0 THEN upper(lang)
           WHEN doc_id % 3 = 1 THEN lang || '_us'
           ELSE lang
         END AS dirty_lang
  FROM documents
), parsed AS (
  SELECT dirty_lang,
         string_split(replace(trim(dirty_lang), '_', '-'), '-') AS parts
  FROM dirty
), canon AS (
  SELECT dirty_lang,
         CASE WHEN trim(dirty_lang) = '' THEN ''
              WHEN len(parts) > 1 AND parts[2] != ''
                THEN lower(parts[1]) || '-' || upper(parts[2])
              ELSE lower(parts[1]) END AS lang_canon,
         CASE WHEN lower(parts[1]) IN ('en','ar','es','zh')
                THEN lower(parts[1]) ELSE '' END AS lang_primary
  FROM parsed
), collapsed AS (
  SELECT dirty_lang, lang_canon, lang_primary,
         CASE WHEN trim(dirty_lang) = '' THEN ''
              WHEN lower(trim(dirty_lang)) LIKE 'en%' THEN 'en-US'
              WHEN lower(trim(dirty_lang)) LIKE 'ar%' THEN 'ar-SA'
              ELSE lang_canon END AS lang_collapsed
  FROM canon
)
SELECT dirty_lang, lang_canon, lang_primary, lang_collapsed, count(*) AS n
FROM collapsed GROUP BY 1, 2, 3, 4
"""


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.operators.islands import merge_islands

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        # parquet ts is TIMESTAMP_NTZ; session TZ is UTC so the cast is exact
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    islands = merge_islands(
        ev.withColumn("start", F.col("ts_us")).withColumn("end", F.col("ts_us")),
        ["user_id"],
        "user_id",  # constant label within partition → pure gap sessionization
        "start",
        "end",
        max_gap=SESSION_GAP_US,
    )
    return islands.select(
        F.col("user_id"),
        F.col("island_start").alias("session_start_us"),
        F.col("island_end").alias("session_end_us"),
        F.col("n_events").cast("long").alias("n_events"),
    )


_SQL_SESSIONIZE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events
), marked AS (
  SELECT user_id, ts_us,
         CASE WHEN ts_us > lag(ts_us) OVER w + {SESSION_GAP_US}
              OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
), ids AS (
  SELECT user_id, ts_us,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       min(ts_us) AS session_start_us,
       max(ts_us) AS session_end_us,
       count(*) AS n_events
FROM ids GROUP BY user_id, sid
"""


def _q_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-mode sessionization: the SAME events table replayed through
    the out-of-order event-time island machine
    (``streaming/stateful.py:make_merge_islands_eventtime``) as a REAL
    multi-micro-batch Structured Streaming job — batches fed in timestamp
    order with a deterministic fraction of rows demoted one batch (bounded
    late arrival), then watermark-drained, the streaming analog of the
    reference finalizing its open segment at shutdown
    (disconnected_language_detector.py:1174-1193).  Oracled against the
    identical gaps-and-islands SQL as ``sessionize_events`` (minus the
    per-session event count, which the streaming machine does not carry):
    this proves stream-mode semantics against DuckDB, not merely against
    the batch twin.
    """
    from language_identification_spark.streaming.replay import (
        replay_island_stream,
    )

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            F.col("user_id").cast("string").alias("key"),
            # constant label within key → pure gap sessionization, same as
            # the batch query's use of user_id as its own label
            F.lit("s").alias("label"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("start"),
        )
        .withColumn("end", F.col("start"))
    )
    out = replay_island_stream(spark, ev, max_gap=SESSION_GAP_US)
    return out.select(
        F.col("key").cast("long").alias("user_id"),
        F.col("island_start").alias("session_start_us"),
        F.col("island_end").alias("session_end_us"),
    )


_SQL_SESSIONIZE_STREAM = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events
), marked AS (
  SELECT user_id, ts_us,
         CASE WHEN ts_us > lag(ts_us) OVER w + {SESSION_GAP_US}
              OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
), ids AS (
  SELECT user_id, ts_us,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       min(ts_us) AS session_start_us,
       max(ts_us) AS session_end_us
FROM ids GROUP BY user_id, sid
"""


def _q_heuristic_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.functions.text import (
        punct_ratio_col,
        token_count_col,
    )

    docs = _docs(spark, sf_dir)
    return docs.select(
        F.col("doc_id"),
        F.length("text").cast("long").alias("n_chars"),
        token_count_col(F.col("text")).alias("n_tokens"),
        F.round(punct_ratio_col(F.col("text")) * 1000).cast("long").alias("punct_milli"),
        (F.length("text") < 64).alias("is_short"),
    )


_SQL_HEURISTIC_FLAGS = """
SELECT doc_id,
       length(text) AS n_chars,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
       CAST(round(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g'))
            * 1000.0 / greatest(length(text), 1)) AS BIGINT) AS punct_milli,
       length(text) < 64 AS is_short
FROM documents
"""


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.functions.text import token_count_col

    docs = _docs(spark, sf_dir)
    return (
        docs.select("lang", token_count_col(F.col("text")).alias("tc"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tc").cast("long").alias("total_tokens"),
            F.max("tc").cast("long").alias("max_tokens"),
        )
    )


_SQL_TOKEN_STATS = """
WITH t AS (
  SELECT lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tc
  FROM documents
)
SELECT lang, count(*) AS n_docs, CAST(sum(tc) AS BIGINT) AS total_tokens,
       CAST(max(tc) AS BIGINT) AS max_tokens
FROM t GROUP BY lang
"""


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.functions.text import fingerprint_col

    docs = _docs(spark, sf_dir)
    return docs.select(
        F.col("doc_id"), fingerprint_col(F.col("text")).alias("fingerprint")
    )


_SQL_FINGERPRINT = """
SELECT doc_id,
       substring(sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16)
         AS fingerprint
FROM documents
"""


def _q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.functions.text import (
        WINNOW_M,
        with_winnow_fingerprints,
    )

    docs = with_winnow_fingerprints(_docs(spark, sf_dir), "text", "fp")
    fp = F.col("fp")
    return docs.select(
        "doc_id",
        F.size(fp).cast("long").alias("n_fp"),
        F.coalesce(F.array_min(fp), F.lit(-1)).cast("long").alias("fp_min"),
        F.coalesce(F.array_max(fp), F.lit(-1)).cast("long").alias("fp_max"),
        (
            F.aggregate(fp, F.lit(0).cast("long"), lambda a, x: a + x)
            % F.lit(WINNOW_M)
        ).cast("long").alias("fp_sum_mod"),
    )


def _winnow_fp_cte() -> str:
    """Shared CTE chain computing each document's winnow fingerprint list
    (``fp(doc_id, f)``) — used by both the fingerprint oracle and the
    MOSS-pair oracle."""
    from language_identification_spark.functions.text import (
        WINNOW_B,
        WINNOW_K,
        WINNOW_M,
        WINNOW_W,
    )

    B, M, K, W = WINNOW_B, WINNOW_M, WINNOW_K, WINNOW_W
    # k=5 polynomial unrolled with the fold's mod-after-each-step order
    poly = f"cp[i]"
    for j in range(1, K):
        poly = f"(({poly}) * {B} + cp[i+{j}]) % {M}"
    return f"""
WITH src AS (
  SELECT doc_id,
         regexp_replace(lower(text), '[^\\p{{L}}\\p{{N}}]', '', 'g') AS norm
  FROM documents
),
cps AS (
  SELECT doc_id, length(norm) AS n,
         list_transform(string_split(norm, ''),
                        ch -> CAST(unicode(ch) AS BIGINT)) AS cp
  FROM src
),
h AS (
  SELECT doc_id, n,
         list_transform(generate_series(1, n - {K - 1}), i -> {poly}) AS hs
  FROM cps WHERE n >= {K}
),
fp AS (
  SELECT doc_id,
         list_sort(list_distinct(
           CASE WHEN len(hs) >= {W}
             THEN list_transform(generate_series(1, len(hs) - {W - 1}),
                                 p -> list_min(hs[p : p + {W - 1}]))
             ELSE [list_min(hs)] END
         )) AS f
  FROM h
)"""


def _sql_winnow() -> str:
    from language_identification_spark.functions.text import WINNOW_M as M

    return f"""
{_winnow_fp_cte()}
SELECT d.doc_id,
       CAST(coalesce(len(f.f), 0) AS BIGINT) AS n_fp,
       CAST(coalesce(f.f[1], -1) AS BIGINT) AS fp_min,
       CAST(coalesce(f.f[len(f.f)], -1) AS BIGINT) AS fp_max,
       CAST(coalesce(list_sum(f.f), 0) % {M} AS BIGINT) AS fp_sum_mod
FROM documents d LEFT JOIN fp f USING (doc_id)
"""


_WINNOW_MIN_SHARED = 3


def _q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style source-code near-dup pairs: docs sharing >= min_shared
    winnowing fingerprints (boilerplate fingerprints capped like LSH
    buckets).  Pure Catalyst fingerprints + two short-key shuffles."""
    from language_identification_spark.operators.dedup import winnow_dup_pairs

    return winnow_dup_pairs(
        _spread(_docs(spark, sf_dir)), "text", "doc_id",
        min_shared=_WINNOW_MIN_SHARED,
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("shared_fps").cast("long").alias("shared_fps"),
    )


def _sql_winnow_pairs() -> str:
    from language_identification_spark.operators.dedup import MAX_BUCKET

    return f"""
{_winnow_fp_cte()},
posting AS (
  SELECT doc_id, unnest(f) AS fpv FROM fp
),
capped AS (
  SELECT doc_id, fpv FROM (
    SELECT doc_id, fpv, count(*) OVER (PARTITION BY fpv) AS n FROM posting
  ) WHERE n <= {MAX_BUCKET}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS shared_fps
FROM capped a JOIN capped b ON a.fpv = b.fpv AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {_WINNOW_MIN_SHARED}
"""


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir), "text", "doc_id").select(
        "content_hash",
        F.col("representative").cast("long").alias("representative"),
        F.col("n_copies").cast("long").alias("n_copies"),
    )


_SQL_EXACT_DEDUP = """
SELECT sha256(text) AS content_hash,
       min(doc_id) AS representative,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""


def _q_ordered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A2: ordered labeled string-agg (reference :1218-1222)
    from language_identification_spark.functions.text import fingerprint_col

    docs = _docs(spark, sf_dir).select(
        "source", "doc_id", F.substring(fingerprint_col(F.col("text")), 1, 8).alias("fp")
    )
    return docs.groupBy("source").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "fp"))),
                lambda s: s["fp"],
            ),
            " ",
        ).alias("fps"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )


_SQL_ORDERED_AGG = """
WITH f AS (
  SELECT source, doc_id,
         substring(sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 8)
           AS fp
  FROM documents
)
SELECT source,
       string_agg(fp, ' ' ORDER BY doc_id) AS fps,
       count(*) AS n_docs
FROM f GROUP BY source
"""


def _q_broadcast_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.6: broadcast inner equi-join over small dims
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal") * 1000).cast("long").alias("acctbal_sum_milli"),
        )
    )


_SQL_BROADCAST_ENRICH = """
SELECT r.r_name AS region_name,
       count(*) AS n_customers,
       CAST(round(sum(c.c_acctbal) * 1000) AS BIGINT) AS acctbal_sum_milli
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


def _q_anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.6: checkpoint-style anti-join (skip already-done keys)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    done = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey"))
    )
    return (
        orders.join(done, orders.o_custkey == done.c_custkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_SQL_ANTI_JOIN_RESUME = """
SELECT o_orderstatus, count(*) AS n_orders
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM customer c WHERE c.c_acctbal < 0 AND c.c_custkey = o.o_custkey
)
GROUP BY o_orderstatus
"""


def _q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.functions.text import quality_score_col

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.round(quality_score_col(F.col("text")) * 1000).cast("long").alias(
            "quality_milli"
        ),
    )


_SQL_QUALITY_SCORES = """
WITH s AS (
  SELECT doc_id, text,
         least(length(text) / 500.0, 1.0) AS length_score,
         greatest(0.0, 1.0 - (length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g'))
             * 1.0 / greatest(length(text), 1)) * 4.0) AS punct_penalty,
         least((len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
               x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x)))
             * 1.0 / greatest(CASE WHEN trim(text) = '' THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END, 1)) * 5.0,
               1.0) AS stop_score
  FROM documents
)
SELECT doc_id,
       CAST(round(round((length_score + punct_penalty + stop_score) / 3.0, 6) * 1000)
            AS BIGINT) AS quality_milli
FROM s
"""


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = cosine_topk(emb, _QUERY_VEC, k=10)
    return got.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round(F.col("cosine") * 1000).cast("long").alias("cosine_milli"),
    )


def _sql_cosine_topk() -> str:
    qlist = ", ".join(f"{x!r}" for x in _QUERY_VEC)
    qnorm = float(np.sqrt(sum(x * x for x in _QUERY_VEC)))
    return f"""
WITH q AS (SELECT [{qlist}]::DOUBLE[] AS qv),
s AS (
  SELECT vec_id,
         list_sum(list_transform(list_zip(embedding::DOUBLE[], (SELECT qv FROM q)),
                  p -> p[1] * p[2]))
         / (sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) * {qnorm!r})
           AS cos
  FROM embeddings
)
SELECT vec_id, CAST(round(round(cos, 6) * 1000) AS BIGINT) AS cosine_milli
FROM s ORDER BY cos DESC, vec_id ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# SQL-literal helpers for the model/LSH oracles: every deterministic model
# constant (planes, centroids, probe lists) is embedded into the oracle SQL
# as double literals (repr round-trips exactly), so DuckDB replicates the
# exact bucketing/banding the Spark UDFs compute.
# ---------------------------------------------------------------------------

def _vec_sql(v) -> str:
    return "[" + ", ".join(repr(float(x)) for x in v) + "]::DOUBLE[]"


def _dot_sql(a: str, b: str) -> str:
    return f"list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"


def _norm_sql(a: str) -> str:
    return f"sqrt(list_sum(list_transform({a}, x -> x * x)))"


def _sql_scrub() -> str:
    """Chained regexp_replace oracle mirroring scrub/patterns.py exactly.

    Each CTE applies one pattern in spec order, counting matches BEFORE
    replacing (the scrubber's count+replace sequence).  Patterns are
    engine-neutral (ASCII classes) so RE2 == Python re.ASCII == java regex.
    """
    from language_identification_spark.scrub.patterns import PATTERNS

    sql = "WITH s0 AS (SELECT doc_id, text AS t FROM documents)"
    carried: list[str] = []
    prev = "s0"
    for i, (_name, pat, repl) in enumerate(PATTERNS, 1):
        p = pat.replace("'", "''")
        # DuckDB standard strings are escape-free, so \1 backrefs pass as-is
        r = repl.replace("'", "''")
        keep = (", ".join(carried) + ", ") if carried else ""
        sql += (
            f", s{i} AS (SELECT doc_id, {keep}"
            f"len(regexp_extract_all(t, '{p}')) AS c{i}, "
            f"regexp_replace(t, '{p}', '{r}', 'g') AS t FROM {prev})"
        )
        carried.append(f"c{i}")
        prev = f"s{i}"
    total = " + ".join(carried)
    return (
        sql
        + f" SELECT doc_id, CAST({total} AS BIGINT) AS n_redactions,"
        f" sha256(t) AS scrubbed_sha256 FROM {prev}"
    )


def _sql_ivf_topk() -> str:
    from language_identification_spark.operators.similarity import (
        IVF_NPROBE,
        _CENTROIDS,
    )

    return _sql_ivf_from(_CENTROIDS, IVF_NPROBE)


def _numpy_train_centroids(mat: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Independent numpy re-derivation of the spherical k-means spec that
    ``train_ivf_centroids`` implements distributed (seeded init from the
    module's fixed centroid set, assignment by normalized dot-product argmax,
    per-cell mean update, empty cells keep their previous centroid, unit
    renormalization).  Used only to generate the ``ivf_topk_trained`` oracle's
    centroid literals; the SQL then re-scores assignment + cosine from them."""
    from language_identification_spark.operators.similarity import _CENTROIDS

    dim = mat.shape[1]
    cent = _CENTROIDS[:k, :dim].copy()
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    unit = mat / norms
    for _ in range(iters):
        cells = (unit @ cent.T).argmax(axis=1)
        new = cent.copy()
        for c in np.unique(cells):
            new[c] = mat[cells == c].mean(axis=0)
        n2 = np.linalg.norm(new, axis=1, keepdims=True)
        n2[n2 == 0] = 1.0
        # same 9-decimal per-iteration quantization as train_ivf_centroids:
        # keeps the two training trajectories bit-identical despite
        # summation-order ulps between distributed avg and np.mean
        cent = np.round(new / n2, 9)
    return cent


_TRAINED_IVF_K = 32
_TRAINED_IVF_ITERS = 4


def _sql_ivf_topk_trained() -> str | None:
    """Oracle for the trained-quantizer IVF path.  The driver's correctness
    gate runs oracles at sf0.01 by contract, so the centroid literals are
    derived from that table (override with ``SPARK_GRAFT_ORACLE_SF_DIR`` to
    check against another scale — ``tools/check_oracles.py`` sets it from
    its sf_dir argument).  Deterministic: seeded init, no sampling, fixed
    data.  Returns None (the entry is then omitted, degrading to the
    driver's weaker rows-only check) when the table is unreadable —
    ``oracle_sql()`` must never crash wholesale over one data-dependent
    oracle (round-4 review)."""
    import os

    import pandas as pd

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    try:
        pdf = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    except (FileNotFoundError, OSError):
        return None
    pdf = pdf.sort_values("vec_id")
    mat = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    cent = _numpy_train_centroids(mat, _TRAINED_IVF_K, _TRAINED_IVF_ITERS)
    from language_identification_spark.operators.similarity import IVF_NPROBE

    return _sql_ivf_from(cent, IVF_NPROBE)


def _sql_ivf_from(centroids: np.ndarray, nprobe: int) -> str:
    q = np.asarray(_QUERY_VEC, dtype=np.float64)
    qn = q / np.linalg.norm(q)
    probes = np.argsort(-(centroids[:, : len(q)] @ qn))[:nprobe].tolist()
    cents = ", ".join(
        f"({k}, {_vec_sql(centroids[k])})" for k in range(len(centroids))
    )
    qlit = _vec_sql(q)
    qnorm = repr(float(np.linalg.norm(q)))
    probe_list = ", ".join(str(int(p)) for p in probes)
    # cell = argmax_k dot(v/||v||, c_k); dividing by the (positive) norm does
    # not change the argmax, so the SQL skips it (zero vectors tie at 0 and
    # resolve to k=0 on both sides via the k ASC tie-break)
    return f"""
WITH cents(k, cv) AS (VALUES {cents}),
dots AS (
  SELECT e.vec_id, c.k,
         {_dot_sql("e.embedding::DOUBLE[]", "c.cv")} AS dot
  FROM embeddings e CROSS JOIN cents c
),
cell AS (
  SELECT vec_id, k AS cell FROM (
    SELECT vec_id, k,
           row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, k ASC) AS rn
    FROM dots
  ) WHERE rn = 1
),
scored AS (
  SELECT e.vec_id,
         round({_dot_sql("e.embedding::DOUBLE[]", qlit)}
               / ({_norm_sql("e.embedding::DOUBLE[]")} * {qnorm}), 6) AS cos6
  FROM embeddings e JOIN cell USING (vec_id)
  WHERE cell IN ({probe_list})
)
SELECT vec_id, CAST(round(cos6 * 1000) AS BIGINT) AS cosine_milli
FROM scored ORDER BY cos6 DESC, vec_id ASC LIMIT 10
"""


def _sql_lsh_topk() -> str:
    from language_identification_spark.operators.similarity import (
        N_PLANES,
        _PLANES,
        _bucket_of,
    )

    q = np.asarray(_QUERY_VEC, dtype=np.float64)
    qb = int(_bucket_of(q[None, :])[0])
    buckets = {qb} | {qb ^ (1 << p) for p in range(N_PLANES)}
    planes = ", ".join(
        f"({p}, {_vec_sql(_PLANES[:, p])})" for p in range(N_PLANES)
    )
    qlit = _vec_sql(q)
    qnorm = repr(float(np.linalg.norm(q)))
    blist = ", ".join(str(b) for b in sorted(buckets))
    return f"""
WITH planes(p, pv) AS (VALUES {planes}),
proj AS (
  SELECT e.vec_id, pl.p,
         {_dot_sql("e.embedding::DOUBLE[]", "pl.pv")} AS pr
  FROM embeddings e CROSS JOIN planes pl
),
bucket AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN pr > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT)
           AS bucket
  FROM proj GROUP BY vec_id
),
scored AS (
  SELECT e.vec_id,
         round({_dot_sql("e.embedding::DOUBLE[]", qlit)}
               / ({_norm_sql("e.embedding::DOUBLE[]")} * {qnorm}), 6) AS cos6
  FROM embeddings e JOIN bucket USING (vec_id)
  WHERE bucket IN ({blist})
)
SELECT vec_id, CAST(round(cos6 * 1000) AS BIGINT) AS cosine_milli
FROM scored ORDER BY cos6 DESC, vec_id ASC LIMIT 10
"""


_DUP_THRESHOLD = 0.5  # driver-visible near-dup τ: low enough that the
# isotropic test embeddings actually produce pairs (τ=0.85 gave 0 rows at
# sf0.01 — "verifies nothing", VERDICT r01)


def _sql_cosine_dup_pairs() -> str:
    from language_identification_spark.operators.similarity import (
        _DUP_BANDS,
        _DUP_PLANES,
        _DUP_ROWS,
    )

    n_planes = _DUP_BANDS * _DUP_ROWS
    planes = ", ".join(
        f"({p}, {_vec_sql(_DUP_PLANES[:, p])})" for p in range(n_planes)
    )
    return f"""
WITH planes(p, pv) AS (VALUES {planes}),
bits AS (
  SELECT e.vec_id, pl.p,
         CASE WHEN {_dot_sql("e.embedding::DOUBLE[]", "pl.pv")} > 0
              THEN 1::BIGINT ELSE 0 END AS bit
  FROM embeddings e CROSS JOIN planes pl
),
keys AS (
  SELECT vec_id,
         (CAST(p // {_DUP_ROWS} AS BIGINT) << 32)
         | CAST(sum(bit << (p % {_DUP_ROWS})) AS BIGINT) AS band_key
  FROM bits GROUP BY vec_id, p // {_DUP_ROWS}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keys a JOIN keys b
    ON a.band_key = b.band_key AND a.vec_id < b.vec_id
),
verified AS (
  SELECT c.id_a, c.id_b,
         round({_dot_sql("ea.embedding::DOUBLE[]", "eb.embedding::DOUBLE[]")}
               / ({_norm_sql("ea.embedding::DOUBLE[]")}
                  * {_norm_sql("eb.embedding::DOUBLE[]")}), 6) AS cos6
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.id_a
  JOIN embeddings eb ON eb.vec_id = c.id_b
)
SELECT id_a, id_b, CAST(round(cos6 * 1000) AS BIGINT) AS cosine_milli
FROM verified WHERE cos6 >= {_DUP_THRESHOLD}
"""


def _sql_langid() -> str:
    """Full langid re-scoring in pure SQL (DuckDB) — no model code shared.

    Pipeline: hex-encode lowercased UTF-8 text (clipped to SAMPLE_BYTES) →
    byte values → FNV-1a 64 byte-trigram hashes via HUGEINT wraparound
    arithmetic → bucket join against the committed weights parquet
    (tools/export_weights.py) → per-doc per-lang mean log-lik → argmax +
    softmax confidence.  Verified byte-exact vs hashing.py on Unicode input.
    """
    from language_identification_spark.hashing import (
        FNV_OFFSET,
        FNV_PRIME,
        SAMPLE_BYTES,
    )
    from language_identification_spark.models.langid import (
        N_BUCKETS,
        SOFTMAX_SCALE,
    )
    from tools.export_weights import ASSET_PATH

    m64 = "18446744073709551616"  # 2^64

    def fnv_step(h: str, b: str) -> str:
        return (
            f"CAST((CAST(xor({h}, {b}) AS HUGEINT) * {FNV_PRIME})"
            f" % {m64} AS UBIGINT)"
        )

    return f"""
WITH src AS (
  SELECT doc_id, lang,
         substr(hex(encode(lower(text))), 1, {2 * SAMPLE_BYTES}) AS hx
  FROM documents
),
pos AS (
  SELECT doc_id, i,
         CAST(strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) * 16
              + strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 17 AS UBIGINT)
           AS b
  FROM src, unnest(generate_series(1, length(hx)//2)) AS z(i)
),
tri AS (
  SELECT doc_id, b AS b1, lead(b, 1) OVER w AS b2, lead(b, 2) OVER w AS b3
  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
h1 AS (SELECT doc_id, {fnv_step(f"{FNV_OFFSET}::UBIGINT", "b1")} AS h, b2, b3
       FROM tri WHERE b3 IS NOT NULL),
h2 AS (SELECT doc_id, {fnv_step("h", "b2")} AS h, b3 FROM h1),
h3 AS (SELECT doc_id,
              CAST({fnv_step("h", "b3")} % {N_BUCKETS} AS INTEGER) AS bucket
       FROM h2),
scores AS (
  SELECT t.doc_id, w.lang_idx, w.lang, sum(w.logp) / count(*) AS mean_ll
  FROM h3 t JOIN read_parquet('{ASSET_PATH}') w USING (bucket)
  GROUP BY t.doc_id, w.lang_idx, w.lang
),
best AS (
  SELECT doc_id, lang AS detected FROM (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY mean_ll DESC, lang_idx ASC) AS rn
    FROM scores
  ) WHERE rn = 1
),
mx AS (SELECT doc_id, max(mean_ll) AS m FROM scores GROUP BY doc_id),
conf AS (
  SELECT s.doc_id,
         1.0 / sum(exp({SOFTMAX_SCALE!r} * (s.mean_ll - mx.m))) AS conf
  FROM scores s JOIN mx USING (doc_id) GROUP BY s.doc_id
)
SELECT d.doc_id, d.lang,
       coalesce(b.detected, '') AS detected_lang,
       CAST(round(coalesce(c.conf, 0.0) * 1000) AS BIGINT) AS confidence_milli
FROM documents d
LEFT JOIN best b USING (doc_id)
LEFT JOIN conf c USING (doc_id)
"""


def _sql_simhash() -> str:
    """SimHash oracle: FNV byte-trigram hashes (mod 2^31), the xorshift-mult
    spread to 64 bits, count-weighted bit votes, and the 4x16-bit chunk keys
    — integer-exact end to end, so the hash must match bit for bit."""
    from language_identification_spark.hashing import (
        FNV_OFFSET,
        FNV_PRIME,
        SAMPLE_BYTES,
    )
    from language_identification_spark.operators.dedup import SHINGLE_BUCKETS

    m64 = "18446744073709551616"  # 2^64
    mix_mult = 0x2545F4914F6CDD1D

    def fnv_step(h: str, b: str) -> str:
        return (
            f"CAST((CAST(xor({h}, {b}) AS HUGEINT) * {FNV_PRIME})"
            f" % {m64} AS UBIGINT)"
        )

    ones = ",\n         ".join(
        f"sum(cnt * CAST((m >> {k}) & 1 AS BIGINT)) AS o{k}" for k in range(64)
    )
    uval = "\n       + ".join(
        f"(CASE WHEN 2 * o{k} > total THEN {1 << k}::HUGEINT ELSE 0 END)"
        for k in range(64)
    )
    chunks = ",\n       ".join(
        f"CAST((coalesce(s.uval, 0) >> {16 * c}) % 65536 AS BIGINT) AS chunk{c}"
        for c in range(4)
    )
    return f"""
WITH src AS (
  SELECT doc_id, substr(hex(encode(lower(text))), 1, {2 * SAMPLE_BYTES}) AS hx
  FROM documents
),
pos AS (
  SELECT doc_id, i,
         CAST(strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) * 16
              + strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 17 AS UBIGINT)
           AS b
  FROM src, unnest(generate_series(1, length(hx)//2)) AS z(i)
),
tri AS (
  SELECT doc_id, b AS b1, lead(b, 1) OVER w AS b2, lead(b, 2) OVER w AS b3
  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
h1 AS (SELECT doc_id, {fnv_step(f"{FNV_OFFSET}::UBIGINT", "b1")} AS h, b2, b3
       FROM tri WHERE b3 IS NOT NULL),
h2 AS (SELECT doc_id, {fnv_step("h", "b2")} AS h, b3 FROM h1),
sh AS (SELECT doc_id, {fnv_step("h", "b3")} % {SHINGLE_BUCKETS} AS s FROM h2),
mix1 AS (
  SELECT doc_id,
         CAST((CAST(xor(s, s >> 15) AS HUGEINT) * {mix_mult})
              % {m64} AS UBIGINT) AS m1
  FROM sh
),
cnts AS (
  SELECT doc_id, xor(m1, m1 >> 32) AS m, count(*) AS cnt
  FROM mix1 GROUP BY doc_id, xor(m1, m1 >> 32)
),
bits AS (
  SELECT doc_id, sum(cnt) AS total,
         {ones}
  FROM cnts GROUP BY doc_id
),
val AS (
  SELECT doc_id,
       {uval} AS uval
  FROM bits
),
sim AS (
  SELECT doc_id, uval,
         CAST(CASE WHEN uval >= {1 << 63}::HUGEINT
                   THEN uval - {m64}::HUGEINT ELSE uval END AS BIGINT)
           AS simhash
  FROM val
)
SELECT d.doc_id,
       coalesce(s.simhash, 0) AS simhash,
       {chunks}
FROM documents d LEFT JOIN sim s USING (doc_id)
"""


def _sql_simhash_pairs() -> str:
    """SimHash near-dup pairs oracle: the full integer-exact simhash SQL as a
    derived table, then the same posting/cap/join/Hamming pipeline re-expressed
    relationally — UNION ALL posting lists over the 4 chunk keys, a window
    bucket cap, a bucket self-join, and bit_count(xor) verification (DuckDB's
    xor/bit_count on negative BIGINTs match Spark's two's-complement
    semantics, verified in tests/test_oracle_assets.py)."""
    from language_identification_spark.operators.dedup import MAX_BUCKET

    base = _sql_simhash()
    return f"""
WITH sig AS (
  SELECT doc_id, simhash, chunk0, chunk1, chunk2, chunk3 FROM ({base})
),
posts AS (
  SELECT doc_id, simhash, 0 AS ci, chunk0 AS cv FROM sig
  UNION ALL SELECT doc_id, simhash, 1, chunk1 FROM sig
  UNION ALL SELECT doc_id, simhash, 2, chunk2 FROM sig
  UNION ALL SELECT doc_id, simhash, 3, chunk3 FROM sig
),
capped AS (
  SELECT doc_id, simhash, ci, cv FROM (
    SELECT p.*, count(*) OVER (PARTITION BY ci, cv) AS bs FROM posts p
  ) WHERE bs <= {MAX_BUCKET}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM capped a JOIN capped b
  ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def _sql_line_spans() -> str:
    """Majority language per doc from per-block (4-line) classification.

    Blocks are contiguous and non-overlapping, so the sum of merged-island
    durations per label equals the sum of labeled block lengths per label —
    the oracle therefore scores blocks (same FNV + weights-join machinery as
    the langid oracle) and aggregates block lengths directly; the winner and
    its ``lines`` total are identical to the Spark islands+majority path.
    """
    from language_identification_spark.hashing import (
        FNV_OFFSET,
        FNV_PRIME,
        SAMPLE_BYTES,
    )
    from language_identification_spark.models.langid import N_BUCKETS
    from language_identification_spark.operators.linespans import BLOCK_LINES
    from tools.export_weights import ASSET_PATH

    m64 = "18446744073709551616"
    B = BLOCK_LINES

    def fnv_step(h: str, b: str) -> str:
        return (
            f"CAST((CAST(xor({h}, {b}) AS HUGEINT) * {FNV_PRIME})"
            f" % {m64} AS UBIGINT)"
        )

    return f"""
WITH ls AS (
  SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents
),
blocks AS (
  SELECT doc_id, bi,
         substr(hex(encode(lower(
           array_to_string(lines[{B}*bi+1 : {B}*bi+{B}], chr(10))
         ))), 1, {2 * SAMPLE_BYTES}) AS hx,
         least({B}*(bi+1), len(lines)) - {B}*bi AS blen
  FROM ls, unnest(generate_series(0, (len(lines)-1)//{B})) AS z(bi)
),
pos AS (
  SELECT doc_id, bi, blen, i,
         CAST(strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) * 16
              + strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 17 AS UBIGINT)
           AS b
  FROM blocks, unnest(generate_series(1, length(hx)//2)) AS z(i)
),
tri AS (
  SELECT doc_id, bi, blen, b AS b1,
         lead(b, 1) OVER w AS b2, lead(b, 2) OVER w AS b3
  FROM pos WINDOW w AS (PARTITION BY doc_id, bi ORDER BY i)
),
h1 AS (SELECT doc_id, bi, blen,
              {fnv_step(f"{FNV_OFFSET}::UBIGINT", "b1")} AS h, b2, b3
       FROM tri WHERE b3 IS NOT NULL),
h2 AS (SELECT doc_id, bi, blen, {fnv_step("h", "b2")} AS h, b3 FROM h1),
h3 AS (SELECT doc_id, bi, blen,
              CAST({fnv_step("h", "b3")} % {N_BUCKETS} AS INTEGER) AS bucket
       FROM h2),
scores AS (
  SELECT t.doc_id, t.bi, t.blen, w.lang_idx, w.lang,
         sum(w.logp) / count(*) AS mean_ll
  FROM h3 t JOIN read_parquet('{ASSET_PATH}') w USING (bucket)
  GROUP BY t.doc_id, t.bi, t.blen, w.lang_idx, w.lang
),
block_label AS (
  SELECT doc_id, bi, blen, lang FROM (
    SELECT doc_id, bi, blen, lang,
           row_number() OVER (PARTITION BY doc_id, bi
                              ORDER BY mean_ll DESC, lang_idx ASC) AS rn
    FROM scores
  ) WHERE rn = 1
),
per_label AS (
  SELECT doc_id, lang, CAST(sum(blen) AS BIGINT) AS lines
  FROM block_label GROUP BY doc_id, lang
)
SELECT doc_id, lang AS majority_lang, lines FROM (
  SELECT doc_id, lang, lines,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY lines DESC, lang ASC) AS rn
  FROM per_label
) WHERE rn = 1
"""


def _sql_quality_filter() -> str:
    """The FLAGSHIP oracle: the entire keep/drop + scrub pipeline re-derived
    in pure SQL — heuristics, FNV char-trigram langid (weights join), softmax
    confidence, FNV word-bigram perplexity, verdict tree, chained regex
    scrub, sha256 invariants.  No model code shared with the pipeline; the
    only shared artifacts are the spec constants and the committed weight
    parquets (tools/export_weights.py)."""
    from language_identification_spark.config import DEFAULT_CONFIG as CFG
    from language_identification_spark.hashing import (
        FNV_OFFSET,
        FNV_PRIME,
        SAMPLE_BYTES,
        WORD_BYTES,
    )
    from language_identification_spark.models.langid import (
        N_BUCKETS as LID_BUCKETS,
    )
    from language_identification_spark.models.langid import SOFTMAX_SCALE
    from language_identification_spark.models.perplexity import (
        N_BUCKETS as PPL_BUCKETS,
    )
    from language_identification_spark.models.seed_corpora import SUPPORTED_LANGS
    from language_identification_spark.scrub.patterns import PATTERNS
    from tools.export_weights import ASSET_PATH, PPL_ASSET_PATH

    m64 = "18446744073709551616"

    def fnv_step(h: str, b: str) -> str:
        return (
            f"CAST((CAST(xor({h}, {b}) AS HUGEINT) * {FNV_PRIME})"
            f" % {m64} AS UBIGINT)"
        )

    # 16-byte zero-padded word FNV as a nested chain over the byte list
    whash = f"{FNV_OFFSET}::UBIGINT"
    for k in range(1, WORD_BYTES + 1):
        whash = fnv_step(whash, f"coalesce(lb[{k}], 0::UBIGINT)")

    # chained scrub CTEs over ALL docs (kept-gating happens in the final
    # projection; untriggered rows scrub to themselves with 0 counts)
    scrub_sql = ""
    carried: list[str] = []
    prev = "src"
    for i, (_name, pat, repl) in enumerate(PATTERNS, 1):
        p = pat.replace("'", "''")
        r = repl.replace("'", "''")
        keep_cols = (", ".join(carried) + ", ") if carried else ""
        src_col = "content" if prev == "src" else "t"
        scrub_sql += (
            f",\nsc{i} AS (SELECT doc_id, {keep_cols}"
            f"len(regexp_extract_all({src_col}, '{p}')) AS c{i}, "
            f"regexp_replace({src_col}, '{p}', '{r}', 'g') AS t FROM {prev})"
        )
        carried.append(f"c{i}")
        prev = f"sc{i}"
    scrub_total = " + ".join(carried)
    supported = ", ".join(f"'{l}'" for l in SUPPORTED_LANGS)
    gen_re = CFG.generated_regex.replace("'", "''")
    ws = r"[ \t\n\r\f\v]"  # Java \s set, explicit for RE2

    return f"""
WITH src AS (
  SELECT doc_id,
         'src/' || source AS repo,
         'docs/doc' || CAST(doc_id AS VARCHAR) || '.md' AS path,
         sha256(CAST(doc_id AS VARCHAR)) AS commit,
         lang, text AS content
  FROM documents
),
canon AS (
  SELECT doc_id,
         string_split(replace(trim(lang), '_', '-'), '-') AS parts,
         lang IS NULL OR trim(lang) = '' AS is_empty
  FROM src
),
canon2 AS (
  SELECT doc_id,
         CASE WHEN is_empty THEN ''
              WHEN len(parts) > 1 AND parts[2] != ''
                THEN lower(parts[1]) || '-' || upper(parts[2])
              ELSE lower(parts[1]) END AS lang_canon,
         CASE WHEN NOT is_empty AND lower(parts[1]) IN ({supported})
              THEN lower(parts[1]) ELSE '' END AS lang_primary
  FROM canon
),
feat AS (
  SELECT doc_id,
         length(content) AS n_chars,
         length(regexp_replace(content, '^{ws}+|{ws}+$', '', 'g'))
           AS n_stripped,
         string_split(content, chr(10)) AS lines
  FROM src
),
cheap AS (
  SELECT f.doc_id,
         CASE
           WHEN f.n_stripped < {CFG.min_chars} THEN 'too_short'
           WHEN coalesce(list_max(list_transform(f.lines, x -> length(x))), 0)
                > {CFG.max_line_len} THEN 'minified'
           WHEN regexp_matches(s.content, '{gen_re}') THEN 'generated'
           WHEN len(f.lines) >= {CFG.rep_min_lines}
                AND len(list_distinct(f.lines)) * 1.0 / len(f.lines)
                    < {CFG.rep_distinct_ratio} THEN 'repetition'
           WHEN length(regexp_replace(s.content, '[^\\p{{L}}\\p{{N}}]', '', 'g'))
                * 1.0 / greatest(f.n_chars, 1) < {CFG.min_alnum_ratio}
                AND f.n_chars >= 64 THEN 'low_alnum'
         END AS cheap_reason
  FROM feat f JOIN src s USING (doc_id)
),
active AS (
  SELECT s.doc_id,
         substr(hex(encode(lower(substr(s.content, 1, {SAMPLE_BYTES})))),
                1, {2 * SAMPLE_BYTES}) AS hx
  FROM src s JOIN cheap USING (doc_id)
  WHERE cheap_reason IS NULL AND s.content IS NOT NULL
),
pos AS (
  SELECT doc_id, i,
         CAST(strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) * 16
              + strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 17 AS UBIGINT)
           AS b
  FROM active, unnest(generate_series(1, length(hx)//2)) AS z(i)
),
tri AS (
  SELECT doc_id, b AS b1, lead(b, 1) OVER w AS b2, lead(b, 2) OVER w AS b3
  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
ch1 AS (SELECT doc_id, {fnv_step(f"{FNV_OFFSET}::UBIGINT", "b1")} AS h, b2, b3
        FROM tri WHERE b3 IS NOT NULL),
ch2 AS (SELECT doc_id, {fnv_step("h", "b2")} AS h, b3 FROM ch1),
ch3 AS (SELECT doc_id,
               CAST({fnv_step("h", "b3")} % {LID_BUCKETS} AS INTEGER) AS bucket
        FROM ch2),
cscores AS (
  SELECT t.doc_id, w.lang_idx, w.lang, sum(w.logp) / count(*) AS mean_ll
  FROM ch3 t JOIN read_parquet('{ASSET_PATH}') w USING (bucket)
  GROUP BY t.doc_id, w.lang_idx, w.lang
),
det AS (
  SELECT doc_id, lang AS detected, lang_idx, mean_ll AS best_ll FROM (
    SELECT doc_id, lang, lang_idx, mean_ll,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY mean_ll DESC, lang_idx ASC) AS rn
    FROM cscores
  ) WHERE rn = 1
),
mx AS (SELECT doc_id, max(mean_ll) AS m FROM cscores GROUP BY doc_id),
conf AS (
  SELECT s.doc_id,
         1.0 / sum(exp({SOFTMAX_SCALE!r} * (s.mean_ll - mx.m))) AS conf
  FROM cscores s JOIN mx USING (doc_id) GROUP BY s.doc_id
),
wpos AS (
  SELECT doc_id, i, b,
         b IN (32, 9, 10, 13, 11, 12) AS is_ws
  FROM pos
),
wstart AS (
  SELECT doc_id, i, b, is_ws,
         CASE WHEN NOT is_ws AND coalesce(lag(is_ws) OVER w, TRUE)
              THEN 1 ELSE 0 END AS st
  FROM wpos WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
wid AS (
  SELECT doc_id, i, b,
         sum(st) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS UNBOUNDED PRECEDING) AS wid
  FROM wstart WHERE NOT is_ws OR st = 1
),
wbytes AS (
  SELECT doc_id, wid, i,
         CASE WHEN b BETWEEN 48 AND 57 THEN 48::UBIGINT ELSE b END AS fb,
         row_number() OVER (PARTITION BY doc_id, wid ORDER BY i) AS rn
  FROM (SELECT doc_id, i, b, wid FROM wid) q
),
words AS (
  SELECT doc_id, wid, list(fb ORDER BY i) AS lb
  FROM wbytes WHERE rn <= {WORD_BYTES}
  GROUP BY doc_id, wid
),
whash AS (
  SELECT doc_id, wid, {whash} AS wh FROM words
),
bigrams AS (
  SELECT doc_id, wh AS w1, lead(wh) OVER (PARTITION BY doc_id ORDER BY wid)
           AS w2
  FROM whash
),
pbuckets AS (
  SELECT doc_id,
         CAST(CAST((CAST(xor(
                CAST((CAST(w1 AS HUGEINT) * {FNV_PRIME}) % {m64} AS UBIGINT),
                w2) AS HUGEINT) * {FNV_PRIME}) % {m64} AS UBIGINT)
              % {PPL_BUCKETS} AS INTEGER) AS bucket
  FROM bigrams WHERE w2 IS NOT NULL
),
ppl AS (
  SELECT p.doc_id, -(sum(w.logp) / count(*)) AS ppl
  FROM pbuckets p
  JOIN det d USING (doc_id)
  JOIN read_parquet('{PPL_ASSET_PATH}') w
    ON w.bucket = p.bucket AND w.lang_idx = d.lang_idx
  GROUP BY p.doc_id
){scrub_sql},
scrubbed AS (
  SELECT doc_id, CAST({scrub_total} AS BIGINT) AS n_sub, t FROM {prev}
),
verdict AS (
  SELECT s.doc_id,
         coalesce(c.cheap_reason,
           CASE WHEN coalesce(cf.conf, 0.0) < {CFG.conf_tau!r}
                     OR coalesce(d.best_ll, -100.0) < {CFG.ll_floor!r}
                THEN 'langid_low_confidence' END,
           CASE WHEN cn.lang_primary != ''
                     AND coalesce(d.detected, '') != cn.lang_primary
                THEN 'langid_mismatch' END,
           CASE WHEN coalesce(p.ppl, 0.0) > {CFG.ppl_tau!r}
                THEN 'perplexity' END) AS drop_reason,
         coalesce(d.detected, '') AS detected_lang,
         round(coalesce(cf.conf, 0.0), 6) AS confidence,
         round(coalesce(p.ppl, 0.0), 6) AS ppl
  FROM src s
  JOIN cheap c USING (doc_id)
  JOIN canon2 cn USING (doc_id)
  LEFT JOIN det d USING (doc_id)
  LEFT JOIN conf cf USING (doc_id)
  LEFT JOIN ppl p USING (doc_id)
)
SELECT repo, path, commit, lang, lang_canon, lang_primary, detected_lang,
       confidence, ppl, keep, drop_reason,
       CASE WHEN keep THEN n_sub ELSE 0 END AS n_redactions,
       CASE WHEN keep THEN t END AS scrubbed_content,
       sha256(content) AS content_sha256,
       CASE WHEN keep THEN sha256(t) END AS scrubbed_sha256
FROM (
  SELECT s.repo, s.path, s.commit, s.lang, cn.lang_canon, cn.lang_primary,
         v.detected_lang, v.confidence, v.ppl,
         v.drop_reason IS NULL AS keep, v.drop_reason,
         sb.n_sub, sb.t, s.content
  FROM src s
  JOIN canon2 cn USING (doc_id)
  JOIN verdict v USING (doc_id)
  JOIN scrubbed sb USING (doc_id)
)
"""


def _sql_minhash_pairs(pair_predicate: str = "") -> str:
    """Full MinHash→LSH→exact-Jaccard oracle: FNV byte-trigram shingles,
    the 64 fixed (a,b) permutations via HUGEINT wraparound arithmetic,
    16x4 banding with the same string band keys and the 64-member bucket
    cap, then exact set Jaccard on the surviving candidate pairs.  Every
    stage is integer-exact, so the pair set and jaccard_milli must match
    the Spark operator bit for bit.

    ``pair_predicate``: optional extra AND-clause on the candidate join
    (columns ``a.doc_id`` / ``b.doc_id``) — the incremental-dedup oracle
    restricts to pairs touching the delta split; banding and the bucket
    cap stay GLOBAL, mirroring the Spark operator's combined band table."""
    from language_identification_spark.hashing import (
        FNV_OFFSET,
        FNV_PRIME,
        SAMPLE_BYTES,
    )
    from language_identification_spark.operators.dedup import (
        _PERM_A,
        _PERM_B,
        LSH_BANDS,
        MAX_BUCKET,
        N_PERM,
        SHINGLE_BUCKETS,
    )

    m64 = "18446744073709551616"
    mask63 = (1 << 63) - 1
    rows_per_band = N_PERM // LSH_BANDS

    def fnv_step(h: str, b: str) -> str:
        return (
            f"CAST((CAST(xor({h}, {b}) AS HUGEINT) * {FNV_PRIME})"
            f" % {m64} AS UBIGINT)"
        )

    perms = ", ".join(
        f"({j}, {int(_PERM_A[j])}::UBIGINT, {int(_PERM_B[j])}::UBIGINT)"
        for j in range(N_PERM)
    )
    return f"""
WITH perms(j, a, b) AS (VALUES {perms}),
src AS (
  SELECT doc_id, substr(hex(encode(lower(text))), 1, {2 * SAMPLE_BYTES}) AS hx
  FROM documents
),
pos AS (
  SELECT doc_id, i,
         CAST(strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) * 16
              + strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 17 AS UBIGINT)
           AS b
  FROM src, unnest(generate_series(1, length(hx)//2)) AS z(i)
),
tri AS (
  SELECT doc_id, b AS b1, lead(b,1) OVER w AS b2, lead(b,2) OVER w AS b3
  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
h1 AS (SELECT doc_id, {fnv_step(f"{FNV_OFFSET}::UBIGINT", "b1")} AS h, b2, b3
       FROM tri WHERE b3 IS NOT NULL),
h2 AS (SELECT doc_id, {fnv_step("h", "b2")} AS h, b3 FROM h1),
sh AS (SELECT DISTINCT doc_id,
              {fnv_step("h", "b3")} % {SHINGLE_BUCKETS} AS s
       FROM h2),
-- per-doc per-permutation minimum; docs with no shingles default to the
-- 63-bit mask exactly like the Spark UDF
sigv AS (
  SELECT d.doc_id, p.j,
         coalesce(m.sig, {mask63}) AS sig
  FROM documents d CROSS JOIN perms p
  LEFT JOIN (
    SELECT sh.doc_id, pp.j,
           min(CAST(xor(
                 CAST((CAST(sh.s AS HUGEINT) * pp.a) % {m64} AS UBIGINT),
                 pp.b) & {mask63}::UBIGINT AS BIGINT)) AS sig
    FROM sh CROSS JOIN perms pp GROUP BY sh.doc_id, pp.j
  ) m ON m.doc_id = d.doc_id AND m.j = p.j
),
bands AS (
  SELECT doc_id, j // {rows_per_band} AS band,
         string_agg(CAST(sig AS VARCHAR), ',' ORDER BY j) AS bucket
  FROM sigv GROUP BY doc_id, j // {rows_per_band}
),
capped AS (
  SELECT * FROM (
    SELECT doc_id, band, bucket,
           count(*) OVER (PARTITION BY band, bucket) AS bs
    FROM bands
  ) WHERE bs <= {MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       {pair_predicate}
),
sets AS (
  SELECT doc_id, list(s) AS sl, count(*) AS n FROM sh GROUP BY doc_id
),
verified AS (
  SELECT c.id_a, c.id_b,
         coalesce(sa.n, 0) + coalesce(sb.n, 0) AS tot,
         len(list_distinct(list_concat(coalesce(sa.sl, []),
                                       coalesce(sb.sl, [])))) AS u
  FROM cand c
  LEFT JOIN sets sa ON sa.doc_id = c.id_a
  LEFT JOIN sets sb ON sb.doc_id = c.id_b
),
jac AS (
  -- filter on the RAW value, round only for output — mirrors the Spark
  -- operator's filter-then-round order exactly
  SELECT id_a, id_b,
         CASE WHEN u > 0 THEN (tot - u) * 1.0 / u ELSE 1.0 END AS jraw
  FROM verified
)
SELECT id_a, id_b,
       CAST(round(round(jraw, 6) * 1000) AS BIGINT) AS jaccard_milli
FROM jac WHERE jraw >= 0.5
"""


def _q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.operators.dedup import (
        connected_components_star,
        jaccard_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
    return connected_components_star(pairs).select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("comp").cast("long").alias("component"),
    )


def _q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself: pairs → components (the
    large-star/small-star contraction, oracled on its own by
    `dedup_components`) → keep the component-min representative plus every
    un-grouped doc."""
    from language_identification_spark.operators.dedup import (
        connected_components_star,
        jaccard_pairs,
        keep_representatives,
    )

    docs = _docs(spark, sf_dir)
    pairs = jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
    comps = connected_components_star(pairs)
    return keep_representatives(docs, comps).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )


def _sql_dedup_representatives() -> str:
    comp_sql = _sql_dedup_components()
    return f"""
WITH comp AS ({comp_sql})
SELECT CAST(d.doc_id AS BIGINT) AS doc_id
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id != component)
"""


def _sql_dedup_components() -> str:
    """Transitive-closure oracle: the minhash pair SQL as the edge set, then
    a recursive CTE computing each node's minimum reachable id."""
    pairs_sql = _sql_minhash_pairs()
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM ({pairs_sql}) t
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, r) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
)
SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY node
"""


def _q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-dup components (minhash
    pairs → component closure) are co-assigned by hashing the component id
    through the deterministic sha256 bucket; singletons hash their own id.
    The whole assignment is reproducible off-cluster — the oracle
    recomputes components AND buckets bit-for-bit.  Components come from
    the O(log n) large-star/small-star contraction, checked against the
    oracle's recursive-CTE closure."""
    from language_identification_spark.operators.dedup import (
        connected_components_star,
        jaccard_pairs,
    )
    from language_identification_spark.operators.splits import (
        leakage_safe_split,
    )

    docs = _docs(spark, sf_dir)
    pairs = jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
    comps = connected_components_star(pairs)
    # the split's own doc scan is row-local sha hashing — spread it (the
    # miner spreads its input internally with its own feature compaction)
    return leakage_safe_split(
        _spread(docs), comps, {"train": 0.9, "val": 0.05, "test": 0.05}
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("split_key").cast("long").alias("split_key"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("split"),
    )


def _sql_leakage_split() -> str:
    comp_sql = _sql_dedup_components()
    return f"""
WITH comp AS ({comp_sql}),
keyd AS (
  SELECT d.doc_id,
         CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS split_key
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
),
b AS (
  SELECT doc_id, split_key,
         CAST(('0x' || substr(sha256('split|' || CAST(split_key AS VARCHAR)),
                              1, 8)) AS BIGINT) % 10000 AS bucket
  FROM keyd
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, split_key,
       CAST(bucket AS BIGINT) AS bucket,
       CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def _q_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-3-gram Jaccard verification on a deterministic pair list
    (every doc_id divisible by 5 vs its successor) — pure Catalyst, green
    oracle for the n-gram-Jaccard verification stage."""
    from language_identification_spark.operators.dedup import exact_jaccard_pairs

    docs = _docs(spark, sf_dir)
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    cand = a.filter(F.col("id_a") % 5 == 0).join(
        b, F.col("id_b") == F.col("id_a") + 1
    )
    return exact_jaccard_pairs(cand, "ta", "tb").select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round(F.col("jaccard") * 1000).cast("long").alias("jaccard_milli"),
    )


_SQL_JACCARD_VERIFY = """
WITH a AS (
  SELECT doc_id AS id_a, lower(text) AS ta FROM documents WHERE doc_id % 5 = 0
), b AS (
  SELECT doc_id AS id_b, lower(text) AS tb FROM documents
), g AS (
  SELECT id_a, id_b,
    CASE WHEN length(ta) >= 3
      THEN list_distinct(list_transform(generate_series(1, length(ta) - 2),
                                        i -> substr(ta, i, 3)))
      ELSE [] END AS sa,
    CASE WHEN length(tb) >= 3
      THEN list_distinct(list_transform(generate_series(1, length(tb) - 2),
                                        i -> substr(tb, i, 3)))
      ELSE [] END AS sb
  FROM a JOIN b ON id_b = id_a + 1
), j AS (
  SELECT id_a, id_b,
    CASE WHEN len(list_distinct(list_concat(sa, sb))) > 0
      THEN round(len(list_intersect(sa, sb)) * 1.0
                 / len(list_distinct(list_concat(sa, sb))), 6)
      ELSE 1.0 END AS jac
  FROM g
)
SELECT id_a, id_b, CAST(round(jac * 1000) AS BIGINT) AS jaccard_milli FROM j
"""


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.operators.dedup import jaccard_pairs

    docs = _docs(spark, sf_dir)
    return jaccard_pairs(docs, "text", "doc_id", threshold=0.5).select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.round(F.col("jaccard") * 1000).cast("long").alias("jaccard_milli"),
    )


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: documents split into a committed lake
    (doc_id % 10 != 0) and a new delta batch (doc_id % 10 == 0); the
    operator finds every near-dup pair touching the delta without pairing
    lake×lake.  The oracle is the full minhash chain restricted to pairs
    with a delta side — banding/capping stay global, matching the
    operator's combined band table."""
    from language_identification_spark.operators.dedup import (
        incremental_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir)
    lake = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) != 0)
    delta = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    return incremental_jaccard_pairs(
        lake, delta, "text", "doc_id", threshold=0.5
    ).select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.round(F.col("jaccard") * 1000).cast("long").alias("jaccard_milli"),
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.operators.dedup import simhash_buckets

    return simhash_buckets(_docs(spark, sf_dir), "text", "doc_id")


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.operators.dedup import simhash_dup_pairs

    return simhash_dup_pairs(_spread(_docs(spark, sf_dir)), "text", "doc_id")


def _q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_topk(emb, _QUERY_VEC, k=10).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round(F.col("cosine") * 1000).cast("long").alias("cosine_milli"),
    )


def _ann_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once cache of the write-side ANN index for `sf_dir`.

    Keyed on a fingerprint of the embeddings parquet (file names + sizes +
    mtimes), not just the path: regenerating embeddings.parquet under the
    same path invalidates the cache instead of silently reusing a stale
    index (ADVICE r02 #5)."""
    import os
    import tempfile

    from language_identification_spark.checkpoint import path_fingerprint
    from language_identification_spark.operators.similarity import build_ann_index

    from language_identification_spark.operators.similarity import (
        _CENTROID_FILE,
    )

    src = f"{sf_dir}/embeddings.parquet"
    idx_dir = os.path.join(
        tempfile.gettempdir(), f"ann_index_{path_fingerprint(src)}"
    )
    # a complete cache has BOTH the parquet _SUCCESS and the centroid
    # sidecar; anything less (older layout, crash between the two writes)
    # rebuilds — ivf_topk_indexed refuses sidecar-less indexes by design
    if not (
        os.path.exists(os.path.join(idx_dir, "_SUCCESS"))
        and os.path.exists(os.path.join(idx_dir, _CENTROID_FILE))
    ):
        build_ann_index(spark.read.parquet(src), idx_dir)
    return idx_dir


def _q_ivf_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-side-index probe path: build the partitioned ANN index
    once (cached across calls), probe with partition pruning.  Results are
    identical to the scan-path ivf_topk, so it shares that oracle."""
    from language_identification_spark.operators.similarity import ivf_topk_indexed

    return ivf_topk_indexed(spark, _ann_index_dir(spark, sf_dir), _QUERY_VEC, k=10).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round(F.col("cosine") * 1000).cast("long").alias("cosine_milli"),
    )


def _q_lsh_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH against the same write-side index (prefix partition
    pruning + exact in-file bucket filter).  Results are identical to the
    scan-path lsh_topk, so it shares that oracle."""
    from language_identification_spark.operators.similarity import lsh_topk_indexed

    return lsh_topk_indexed(spark, _ann_index_dir(spark, sf_dir), _QUERY_VEC, k=10).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round(F.col("cosine") * 1000).cast("long").alias("cosine_milli"),
    )


_WAV_RATES = (8000, 16000, 22050, 44100)


def _synth_wav_batches(batches):
    """Deterministic per-doc WAV synthesis: rate/channels/width/frames are
    pure functions of doc_id, content is a doc_id-seeded sine.  Runs inside
    mapInPandas so payload bytes are born ON the executors."""
    import io
    import wave as _wave

    import numpy as np
    import pandas as pd

    for pdf in batches:
        payloads = []
        for did in pdf["doc_id"]:
            did = int(did)
            rate = _WAV_RATES[did % 4]
            channels = 1 + did % 2
            width = (1, 2, 3, 4)[did % 4]
            n = 800 + (did % 7) * 377
            t = np.arange(n, dtype=np.float64) / rate
            x = 0.5 * np.sin(2 * np.pi * (100.0 + did) * t)
            flat = np.repeat(x, channels)
            if width == 1:
                raw = (np.round(flat * 127) + 128).astype(np.uint8).tobytes()
            elif width == 2:
                raw = np.round(flat * 32767).astype("<i2").tobytes()
            elif width == 3:
                ints = np.round(flat * ((1 << 23) - 1)).astype(np.int64)
                ints = np.where(ints < 0, ints + (1 << 24), ints)
                b = np.zeros((len(ints), 3), dtype=np.uint8)
                b[:, 0] = ints & 0xFF
                b[:, 1] = (ints >> 8) & 0xFF
                b[:, 2] = (ints >> 16) & 0xFF
                raw = b.tobytes()
            else:
                raw = np.round(flat * ((1 << 31) - 1)).astype("<i4").tobytes()
            buf = io.BytesIO()
            with _wave.open(buf, "wb") as wf:
                wf.setnchannels(channels)
                wf.setsampwidth(width)
                wf.setframerate(rate)
                wf.writeframes(raw)
            payloads.append(buf.getvalue())
        yield pd.DataFrame(
            {"media_id": pdf["doc_id"].astype("int64"), "payload": payloads}
        )


def _q_wav_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 offline media converter, oracle-grade: synthesize one WAV per doc
    (rate/channels/width/frames all pure functions of doc_id), run the REAL
    converter (mono / 16 kHz / 16-bit / -3 dBFS), return the output props.
    The oracle re-derives the expected frame math in SQL — 16000/22050 and
    16000/44100 reduce to odd denominators, so round() half-cases cannot
    occur and banker's-vs-away rounding differences are unreachable."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    from language_identification_spark.operators.wav import convert_audio

    media = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").cast("long"))
        .filter(F.col("doc_id") < 200)
        .mapInPandas(
            _synth_wav_batches,
            StructType(
                [
                    StructField("media_id", LongType()),
                    StructField("payload", BinaryType()),
                ]
            ),
        )
    )
    return convert_audio(media).select(
        F.col("media_id").alias("doc_id"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("channels").cast("long").alias("channels"),
        F.col("sample_width").cast("long").alias("sample_width"),
    )


_SQL_WAV_CONVERT = """
WITH m AS (
  SELECT doc_id,
         CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                         WHEN 2 THEN 22050 ELSE 44100 END AS rate,
         800 + (doc_id % 7) * 377 AS n_src
  FROM documents WHERE doc_id < 200
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(16000 AS BIGINT) AS sample_rate,
       CAST(GREATEST(1, round(n_src * 16000.0 / rate)) AS BIGINT) AS n_frames,
       CAST(1 AS BIGINT) AS channels,
       CAST(2 AS BIGINT) AS sample_width
FROM m
"""


def _q_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.operators.similarity import cosine_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_dup_pairs(emb, threshold=_DUP_THRESHOLD).select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.round(F.col("cosine") * 1000).cast("long").alias("cosine_milli"),
    )


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style end-to-end semantic deduplication: sign-LSH
    banded cosine near-dup pairs over the embedding column → O(log n)
    large-star/small-star components → keep the component-min
    representative plus every un-grouped vector.  The full composition a
    training pipeline runs; every stage is individually oracled, and
    this query oracles the chain."""
    from language_identification_spark.operators.similarity import semantic_dedup

    emb = _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return semantic_dedup(emb.select("vec_id", "embedding"), threshold=_DUP_THRESHOLD).select(
        F.col("vec_id").cast("long").alias("vec_id")
    )


def _sql_semantic_dedup() -> str:
    pairs_sql = _sql_cosine_dup_pairs()
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM ({pairs_sql}) t
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, r) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
),
comp AS (
  SELECT node AS vec_id, CAST(min(r) AS BIGINT) AS component
  FROM reach GROUP BY node
)
SELECT CAST(e.vec_id AS BIGINT) AS vec_id
FROM embeddings e
WHERE e.vec_id NOT IN (SELECT vec_id FROM comp WHERE vec_id != component)
"""


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_topk(emb, _QUERY_VEC, k=10).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round(F.col("cosine") * 1000).cast("long").alias("cosine_milli"),
    )


def _q_ivf_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-quantizer IVF: spherical k-means on the corpus itself (the
    Lloyd loop shuffles only k×d aggregated scalars per iteration), then the
    same probe/score path as ``ivf_topk`` under the adapted centroids.
    Deterministic end-to-end: seeded init, no sampling (VERDICT r03 #3)."""
    from language_identification_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent = train_ivf_centroids(
        emb, k=_TRAINED_IVF_K, iters=_TRAINED_IVF_ITERS
    )
    return ivf_topk(emb, _QUERY_VEC, k=10, centroids=cent).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round(F.col("cosine") * 1000).cast("long").alias("cosine_milli"),
    )


_PQ_TRAIN_ITERS = 2


def _q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode: per-subspace Lloyd training (pure-
    Catalyst assignment, M×K×subdim scalars shuffled per iteration) then
    the argmin code projection — zero UDF end to end.  Codes published as
    a joined string so the value compare is engine-neutral."""
    from language_identification_spark.operators.pq import (
        encode_pq,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = train_pq_codebooks(emb, iters=_PQ_TRAIN_ITERS)
    return encode_pq(emb, books).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.concat_ws("-", F.col("codes").cast("array<string>")).alias(
            "codes_str"
        ),
    )


def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-10: the M×K inner-product LUT (driver-
    side, 128 rounded floats) scores each row with M element_at lookups
    summed in fixed order — the probe reads ONLY the code table."""
    from language_identification_spark.operators.pq import (
        encode_pq,
        pq_topk,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = train_pq_codebooks(emb, iters=_PQ_TRAIN_ITERS)
    codes = encode_pq(emb, books)
    return pq_topk(codes, _QUERY_VEC, books, k=10).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round(F.col("score") * 1_000_000).cast("long").alias("score_micro"),
    )


def _numpy_train_pq(mat: np.ndarray, m: int, k: int, iters: int) -> np.ndarray:
    """Independent numpy re-derivation of ``train_pq_codebooks``'s spec:
    same frozen init, squared-L2 accumulated in the SAME left-fold order
    per dimension (so boundary assignments agree to the bit), first-min
    argmin, per-cell mean (empty cells keep the prior centroid), 9-decimal
    rounding per iteration."""
    from language_identification_spark.operators.pq import _PQ_INIT

    dim = mat.shape[1]
    subdim = dim // m
    mat64 = mat.astype(np.float64)
    books = np.round(_PQ_INIT[:m, :k, :subdim].copy(), 9)
    for _ in range(iters):
        new = books.copy()
        for i in range(m):
            acc = np.zeros((mat.shape[0], k))
            for j in range(subdim):
                d = mat64[:, i * subdim + j, None] - books[i, None, :, j]
                acc = acc + d * d
            cells = acc.argmin(axis=1)
            for c in np.unique(cells):
                new[i, c] = mat64[cells == c, i * subdim : (i + 1) * subdim].mean(
                    axis=0
                )
        books = np.round(new, 9)
    return books


def _pq_oracle_parts() -> tuple[str, str, "np.ndarray"] | None:
    """Shared SQL scaffolding for both PQ oracles: (sub_exprs CTE text,
    codes expression list text, trained books).  None if the oracle-side
    table is unreadable (entry then omitted; weaker rows-only check)."""
    import os

    import pandas as pd

    from language_identification_spark.operators.pq import PQ_K, PQ_M

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        pdf = pd.read_parquet(f"{sf}/embeddings.parquet")
    except (FileNotFoundError, OSError):
        return None
    pdf = pdf.sort_values("vec_id")
    mat = np.vstack(
        [np.asarray(v, dtype=np.float32) for v in pdf["embedding"]]
    )
    books = _numpy_train_pq(mat, PQ_M, PQ_K, _PQ_TRAIN_ITERS)
    dim = mat.shape[1]
    subdim = dim // PQ_M
    e_cols = ", ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) AS e{i}" for i in range(dim)
    )
    code_exprs = []
    for mi in range(PQ_M):
        dists = []
        for c in range(PQ_K):
            expr = ""
            for j in range(subdim):
                t = (
                    f"(e{mi * subdim + j} - {books[mi, c, j]!r}) * "
                    f"(e{mi * subdim + j} - {books[mi, c, j]!r})"
                )
                expr = t if not expr else f"({expr} + {t})"
            dists.append(expr)
        lst = "[" + ", ".join(dists) + "]"
        code_exprs.append(
            f"(list_position({lst}, list_min({lst})) - 1) AS code{mi}"
        )
    return e_cols, ", ".join(code_exprs), books


def _sql_pq_encode() -> str | None:
    parts = _pq_oracle_parts()
    if parts is None:
        return None
    e_cols, code_exprs, books = parts
    m = books.shape[0]
    joined = " || '-' || ".join(f"code{i}::VARCHAR" for i in range(m))
    return f"""
WITH sub AS (SELECT vec_id, {e_cols} FROM embeddings),
codes AS (SELECT vec_id, {code_exprs} FROM sub)
SELECT CAST(vec_id AS BIGINT) AS vec_id, {joined} AS codes_str FROM codes
"""


def _sql_pq_topk() -> str | None:
    from language_identification_spark.operators.pq import adc_lut

    parts = _pq_oracle_parts()
    if parts is None:
        return None
    e_cols, code_exprs, books = parts
    lut = adc_lut(_QUERY_VEC, books)
    score = ""
    for mi in range(lut.shape[0]):
        lst = "[" + ", ".join(repr(float(x)) for x in lut[mi]) + "]"
        term = f"({lst})[code{mi} + 1]"
        score = term if not score else f"({score} + {term})"
    return f"""
WITH sub AS (SELECT vec_id, {e_cols} FROM embeddings),
codes AS (SELECT vec_id, {code_exprs} FROM sub),
scored AS (SELECT vec_id, {score} AS score FROM codes)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(round(score * 1000000) AS BIGINT) AS score_micro
FROM scored ORDER BY score DESC, vec_id LIMIT 10
"""


def _q_line_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.operators.linespans import (
        langid_line_spans,
        majority_label,
    )

    docs = _docs(spark, sf_dir)
    spans = langid_line_spans(docs, "doc_id", "text")
    return majority_label(spans, "doc_id").select(
        F.col("doc_id"),
        F.col("majority_lang"),
        F.col("lines").cast("long").alias("lines"),
    )


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.plans.pipeline import quality_filter

    return quality_filter(_as_source_files(_docs(spark, sf_dir)))


def _q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.plans.pipeline import flagship_udf

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        "lang",
        flagship_udf(F.col("text"), F.lit(True), F.lit(None)).alias("nlp"),
    ).select(
        "doc_id",
        "lang",
        F.col("nlp.detected_lang").alias("detected_lang"),
        F.round(F.col("nlp.confidence") * 1000).cast("long").alias("confidence_milli"),
    )


def _q_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from language_identification_spark.plans.pipeline import flagship_udf

    docs = _docs(spark, sf_dir)
    # the UDF sends back NULL text for a row it left unchanged
    return docs.select(
        "doc_id",
        "text",
        flagship_udf(F.lit(""), F.lit(False), F.col("text")).alias("sc"),
    ).select(
        "doc_id",
        F.col("sc.n_sub").cast("long").alias("n_redactions"),
        F.sha2(
            F.encode(F.coalesce(F.col("sc.text"), F.col("text")), "UTF-8"), 256
        ).alias("scrubbed_sha256"),
    )


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language corpus rebalancing: down-sample the head
    language, keep the tails — pure filter, zero shuffle, membership
    reproducible bit-for-bit by any engine with sha256 (the oracle
    recomputes the bucket hash in DuckDB)."""
    from language_identification_spark.operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir)
    rates = {"en": 0.35, "de": 1.0, "es": 0.6, "fr": 0.8}
    return stratified_sample(
        docs, "lang", "doc_id", rates, default_rate=0.1, salt="r5"
    ).select("doc_id", "lang")


_SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, lang FROM documents
WHERE CAST(('0x' || substr(sha256('r5|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        % 10000
  < CASE lang WHEN 'en' THEN 3500 WHEN 'de' THEN 10000
              WHEN 'es' THEN 6000 WHEN 'fr' THEN 8000 ELSE 1000 END
"""


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word 3-gram
    with the held-out slice (doc_id % 101 == 7), boilerplate grams capped
    at df<=4.  n=3 (not the production 13) because the synthetic docs are
    ~50 words; the operator's default is 13."""
    from language_identification_spark.operators.decontaminate import decontaminate

    docs = _spread(_docs(spark, sf_dir))
    bench = docs.filter(F.col("doc_id") % 101 == 7)
    train = docs.filter(F.col("doc_id") % 101 != 7)
    return decontaminate(train, bench, n=3, max_df=4)


# mirrors operators/decontaminate.py on gram STRINGS where Spark joins on
# xxhash64(gram) — identical output unless a 64-bit hash collision occurs
# (odds ~1e-12 at this corpus size; see the module docstring)
_SQL_DECONTAMINATE = """
WITH w AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(coalesce(text, '')),
                                          '[^\\p{L}\\p{N}]+', ' ', 'g')),
                      ' ') AS words
  FROM documents
),
g AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(words[i:i+2], ' ')
                 for i in range(1, greatest(len(words) - 2, 0) + 1)]) AS gram
  FROM w WHERE words <> ['']
),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 101 = 7),
hits AS (
  SELECT t.doc_id, t.gram FROM g t JOIN bench b USING (gram)
  WHERE t.doc_id % 101 <> 7
),
capped AS (
  SELECT * FROM (
    SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df FROM hits
  ) WHERE df <= 4
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
FROM capped GROUP BY doc_id
"""


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword retrieval for curation: top-10 documents by BM25 for a
    mixed-idf query (one rare term, two common).  Two scans — a 1-row
    stats agg, then broadcast-back scoring — no UDF, no content shuffle;
    top-k is TakeOrdered.  Scores ship as milli-ints so cross-engine
    float formatting can't perturb the hash."""
    from language_identification_spark.operators.retrieval import bm25_topk

    docs = _spread(_docs(spark, sf_dir))
    return bm25_topk(docs, ["dup", "vector", "spark"], k=10)


# Mirrors operators/retrieval.py term by term, replicating the exact
# floating-point evaluation order (0.0 + term0 + term1 + term2, each
# ((idf*tf)*(k1+1))/(tf+norm)); literals are ::DOUBLE because DuckDB
# otherwise parses `1.2` as DECIMAL and evaluates in decimal arithmetic.
_SQL_BM25_TOPK = """
WITH tok AS (
  SELECT doc_id,
         CASE WHEN t = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split(t, ' ') END AS words
  FROM (SELECT doc_id,
               trim(regexp_replace(lower(coalesce(text, '')),
                                   '[^\\p{L}\\p{N}]+', ' ', 'g')) AS t
        FROM documents)
),
tf AS (
  SELECT doc_id, len(words) AS dl,
         len(list_filter(words, x -> x = 'dup'))    AS tf0,
         len(list_filter(words, x -> x = 'vector')) AS tf1,
         len(list_filter(words, x -> x = 'spark'))  AS tf2
  FROM tok
),
stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl,
         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
  FROM tf
)
SELECT doc_id,
       CAST(round((0.0
         + ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * (1.2::DOUBLE + 1)
           / (tf0 + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl / avgdl))
         + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * (1.2::DOUBLE + 1)
           / (tf1 + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl / avgdl))
         + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * (1.2::DOUBLE + 1)
           / (tf2 + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl / avgdl))
       ) * 1000) AS BIGINT) AS bm25_milli
FROM tf, stats
WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
ORDER BY bm25_milli DESC, doc_id
LIMIT 10
"""


def _q_range_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layout path: rewrite documents range-sorted on doc_id (once,
    cached on a source fingerprint), then answer a range predicate from
    the clustered copy.  The pushed-down filter prunes by parquet
    min/max zone maps — at 100 TB this reads O(matching files), not the
    table.  The oracle answers the same predicate from the original
    table, proving the rewrite round-trips rows exactly."""
    import os
    import tempfile

    from language_identification_spark.checkpoint import path_fingerprint
    from language_identification_spark.sources.layout import write_range_sorted

    src = f"{sf_dir}/documents.parquet"
    d = os.path.join(
        tempfile.gettempdir(), f"range_layout_{path_fingerprint(src)}"
    )
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        write_range_sorted(
            spark.read.parquet(src), d, ["doc_id"], n_ranges=8
        )
    return (
        spark.read.parquet(d)
        .filter((F.col("doc_id") >= 120) & (F.col("doc_id") <= 260))
        .select("doc_id", "lang")
    )


_SQL_RANGE_PRUNED_SCAN = """
SELECT doc_id, lang FROM documents
WHERE doc_id >= 120 AND doc_id <= 260
"""


def _q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style cross-document line dedup.  The synthetic docs
    are single-line, so the query first maps spaces to newlines — every
    word becomes a line, giving a heavily-duplicated line population
    (vocab ~30 over ~25k lines) that exercises first-occurrence-wins,
    reassembly, and the skew-exempt blank class.  Returns the reassembled
    text hashed, plus kept/removed counts."""
    from language_identification_spark.operators.linededup import dedup_lines

    docs = _spread(_docs(spark, sf_dir)).select(
        "doc_id", F.translate(F.col("text"), " ", "\n").alias("text")
    )
    return dedup_lines(docs).select(
        "doc_id",
        F.sha2(F.encode(F.col("text"), "UTF-8"), 256).alias("text_sha256"),
        "n_kept",
        "n_removed",
    )


# row_number per line partition = first-occurrence-wins; exempt (blank)
# lines can share a rank window with dedupable ones only if the line
# VALUES are equal, which implies equal trimmed length — so the CASE
# split is exact.  Spark keys the same dedup on xxhash64(line); identical
# output unless a 64-bit collision occurs (documented in the module).
_SQL_DEDUP_LINES = """
WITH lines AS (
  SELECT doc_id,
         unnest(ls) AS line,
         unnest(range(0, len(ls))) AS line_no
  FROM (SELECT doc_id,
               string_split(replace(coalesce(text, ''), ' ', chr(10)),
                            chr(10)) AS ls
        FROM documents)
),
flagged AS (
  SELECT doc_id, line_no, line,
         CASE WHEN len(trim(line)) >= 1
              THEN row_number() OVER (PARTITION BY line
                                      ORDER BY doc_id, line_no) = 1
              ELSE TRUE END AS keep
  FROM lines
)
SELECT doc_id,
       sha256(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                                  ORDER BY line_no), '')) AS text_sha256,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
FROM flagged GROUP BY doc_id
"""


def _q_mask_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style repeated-span removal (Lee et al. 2022 semantics
    on word 8-grams): every token covered by an 8-gram occurring in >= 2
    distinct documents is deleted and the document reassembled from the
    survivors.  Overlapping duplicated grams merge into one deleted
    span, so any shared run of >= 8 tokens vanishes in full.  Returns
    the rewritten text hashed plus the per-document removal count."""
    from language_identification_spark.operators.spandedup import (
        remove_repeated_spans,
    )

    docs = _spread(_docs(spark, sf_dir)).select("doc_id", "text")
    return remove_repeated_spans(docs, n=8, min_docs=2).select(
        "doc_id",
        F.sha2(F.encode(F.col("text"), "UTF-8"), 256).alias("clean_sha256"),
        "n_tokens_removed",
    )


# Spark keys gram identity on xxhash64(gram); the oracle joins on the
# gram STRING — identical output unless a 64-bit collision occurs
# (documented trade in operators/spandedup.py).  Coverage is the
# NOT-EXISTS over marked start positions; string_agg(... ORDER BY j)
# mirrors Spark's order-preserving array reassembly.
_SQL_MASK_REPEATED_SPANS = """
WITH toks AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t FROM documents
),
posting AS (
  SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS gram
  FROM toks, LATERAL unnest(generate_series(1, greatest(len(t) - 7, 0))) AS u(i)
),
dup AS (
  SELECT gram FROM posting GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
marked AS (
  SELECT DISTINCT p.doc_id, p.i FROM posting p JOIN dup USING (gram)
),
tok_rows AS (
  SELECT doc_id, unnest(t) AS tok, unnest(generate_series(1, len(t))) AS j
  FROM toks
),
kept AS (
  SELECT r.doc_id, r.tok, r.j FROM tok_rows r
  WHERE NOT EXISTS (SELECT 1 FROM marked m
                    WHERE m.doc_id = r.doc_id AND m.i <= r.j AND r.j < m.i + 8)
)
SELECT t.doc_id,
       sha256(coalesce((SELECT string_agg(k.tok, ' ' ORDER BY k.j)
                        FROM kept k WHERE k.doc_id = t.doc_id), ''))
         AS clean_sha256,
       CAST(len(t.t) - coalesce((SELECT count(*) FROM kept k
                                 WHERE k.doc_id = t.doc_id), 0) AS BIGINT)
         AS n_tokens_removed
FROM toks t
"""


def _q_langid_train_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed langid training — the sufficient statistic.  One
    mapInPandas crossing emits per-partition PARTIAL bucket histograms
    (bounded by n_buckets x langs, not by corpus size); groupBy+sum
    finishes them.  The oracle re-derives every byte-trigram FNV bucket
    in pure SQL."""
    from language_identification_spark.models.train_distributed import (
        trigram_bucket_counts,
    )

    return trigram_bucket_counts(_docs(spark, sf_dir).select("lang", "text"))


def _q_bigram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed perplexity-LM training — word-bigram bucket counts
    (same partial-histogram shape as langid_train_counts).  The oracle
    re-derives the full word pipeline in SQL: whitespace split, 16-byte
    clip, digit fold, zero-pad, fixed-width FNV, bigram combine."""
    from language_identification_spark.models.train_distributed import (
        bigram_bucket_counts,
    )

    return bigram_bucket_counts(_docs(spark, sf_dir).select("lang", "text"))


def _fnv_sql_step(h: str, b: str) -> str:
    """One FNV-1a step in DuckDB HUGEINT arithmetic (mod-2^64 wraparound)."""
    from language_identification_spark.hashing import FNV_PRIME

    m64 = "18446744073709551616"
    return (
        f"CAST((CAST(xor({h}, {b}) AS HUGEINT) * {FNV_PRIME})"
        f" % {m64} AS UBIGINT)"
    )


_SQL_BYTES_CTE = """
src AS (
  SELECT doc_id, lang, hex(encode(lower(text))) AS hx
  FROM documents WHERE text IS NOT NULL
),
pos AS (
  SELECT doc_id, lang, i,
         CAST(strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) * 16
              + strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 17 AS UBIGINT)
           AS b
  FROM src, unnest(generate_series(1, length(hx)//2)) AS z(i)
)"""


def _sql_langid_train_counts() -> str:
    """Byte-trigram FNV buckets recomputed in SQL, counted per (lang,
    bucket) — the trainer reads full documents (no SAMPLE_BYTES clip,
    matching ``langid.train``), unlike the scoring oracle."""
    from language_identification_spark.hashing import FNV_OFFSET
    from language_identification_spark.models.langid import N_BUCKETS

    return f"""
WITH {_SQL_BYTES_CTE},
tri AS (
  SELECT doc_id, lang, b AS b1, lead(b, 1) OVER w AS b2, lead(b, 2) OVER w AS b3
  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
h1 AS (SELECT lang, {_fnv_sql_step(f"{FNV_OFFSET}::UBIGINT", "b1")} AS h, b2, b3
       FROM tri WHERE b3 IS NOT NULL),
h2 AS (SELECT lang, {_fnv_sql_step("h", "b2")} AS h, b3 FROM h1),
h3 AS (SELECT lang, CAST({_fnv_sql_step("h", "b3")} % {N_BUCKETS} AS INTEGER)
         AS bucket FROM h2)
SELECT lang, bucket, CAST(count(*) AS BIGINT) AS cnt
FROM h3 GROUP BY lang, bucket
"""


def _sql_bigram_lm_counts() -> str:
    """Word-bigram FNV buckets recomputed in SQL: per-byte rows ->
    whitespace-boundary word ids -> first-16-bytes digit-folded pivot ->
    16 nested FNV steps (zero pads included: fixed-width spec) ->
    ((w1*P) ^ w2)*P mod 2^64 mod n_buckets -> count per (lang, bucket)."""
    from language_identification_spark.hashing import (
        FNV_OFFSET,
        FNV_PRIME,
        WORD_BYTES,
    )
    from language_identification_spark.models.perplexity import N_BUCKETS

    m64 = "18446744073709551616"
    cols = ", ".join(
        f"coalesce(max(CASE WHEN rn = {k} THEN fb END), 0::UBIGINT) AS c{k}"
        for k in range(1, WORD_BYTES + 1)
    )
    h = f"{FNV_OFFSET}::UBIGINT"
    for k in range(1, WORD_BYTES + 1):
        h = _fnv_sql_step(h, f"c{k}")
    w1p = f"CAST((CAST(h1 AS HUGEINT) * {FNV_PRIME}) % {m64} AS UBIGINT)"
    combined = (
        f"CAST((CAST(xor({w1p}, h2) AS HUGEINT) * {FNV_PRIME})"
        f" % {m64} AS UBIGINT)"
    )
    return f"""
WITH {_SQL_BYTES_CTE},
wp AS (
  SELECT doc_id, lang, i, b,
         CASE WHEN b IN (32, 9, 10, 13, 11, 12) THEN 1 ELSE 0 END AS is_ws
  FROM pos
),
ws AS (
  SELECT doc_id, lang, i, b, is_ws,
         CASE WHEN is_ws = 0
              AND coalesce(lag(is_ws) OVER (PARTITION BY doc_id ORDER BY i),
                           1) = 1
              THEN 1 ELSE 0 END AS w_start
  FROM wp
),
wid AS (
  SELECT doc_id, lang, i, b,
         SUM(w_start) OVER (PARTITION BY doc_id ORDER BY i) AS word_id
  FROM ws WHERE is_ws = 0
),
wbytes AS (
  SELECT doc_id, lang, word_id,
         row_number() OVER (PARTITION BY doc_id, word_id ORDER BY i) AS rn,
         CASE WHEN b BETWEEN 48 AND 57 THEN 48::UBIGINT ELSE b END AS fb
  FROM wid
),
wmat AS (
  SELECT doc_id, lang, word_id, {cols}
  FROM wbytes WHERE rn <= {WORD_BYTES}
  GROUP BY doc_id, lang, word_id
),
whash AS (
  SELECT doc_id, lang, word_id, {h} AS h
  FROM wmat
),
bg AS (
  SELECT lang, h AS h1,
         lead(h) OVER (PARTITION BY doc_id ORDER BY word_id) AS h2
  FROM whash
),
bkt AS (
  SELECT lang, CAST({combined} % {N_BUCKETS} AS INTEGER) AS bucket
  FROM bg WHERE h2 IS NOT NULL
)
SELECT lang, bucket, CAST(count(*) AS BIGINT) AS cnt
FROM bkt GROUP BY lang, bucket
"""


def _q_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence-gate calibration in one corpus scan: confusion matrix
    + precision/recall/F1 (x1000) at every 25-milli langid-confidence
    cutoff, with 'detected == declared' as the ground truth.  Data-sized
    work is one groupBy(cell); the sweep itself is cumulative sums over
    the 41-row grid.  The oracle re-derives the scoring (full SQL langid)
    AND the sweep independently."""
    from language_identification_spark.operators.calibration import (
        threshold_sweep,
    )
    from language_identification_spark.plans.pipeline import flagship_udf

    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "lang", flagship_udf(F.col("text"), F.lit(True), F.lit(None)).alias("nlp")
    ).select(
        F.round(F.col("nlp.confidence") * 1000).cast("long").alias("conf"),
        (F.col("nlp.detected_lang") == F.col("lang")).alias("match"),
    )
    return threshold_sweep(scored, "conf", "match", step_milli=25)


def _sql_threshold_sweep() -> str:
    """The sweep math over the langid oracle's per-doc scores: integer
    cell bucketing, grid left-join, descending cumulative sums, x1000
    rounded ratios — all integer-exact across engines."""
    return f"""
WITH cells AS (
  SELECT CAST((confidence_milli // 25) * 25 AS BIGINT) AS cell,
         CASE WHEN detected_lang = lang THEN 1 ELSE 0 END AS y
  FROM ({_sql_langid()}) scored
),
agg AS (
  SELECT cell, SUM(y) AS pos, COUNT(*) - SUM(y) AS neg
  FROM cells GROUP BY cell
),
grid AS (
  SELECT CAST(g AS BIGINT) AS threshold_milli
  FROM generate_series(0, 1000, 25) t(g)
),
cum AS (
  SELECT threshold_milli,
         SUM(coalesce(pos, 0)) OVER (ORDER BY threshold_milli DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         SUM(coalesce(neg, 0)) OVER (ORDER BY threshold_milli DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
  FROM grid LEFT JOIN agg ON agg.cell = grid.threshold_milli
),
tot AS (SELECT SUM(y) AS tpos, COUNT(*) - SUM(y) AS tneg FROM cells)
SELECT threshold_milli,
       CAST(tp AS BIGINT) AS tp,
       CAST(fp AS BIGINT) AS fp,
       CAST(tpos - tp AS BIGINT) AS fn,
       CAST(tneg - fp AS BIGINT) AS tn,
       CAST(CASE WHEN tp + fp = 0 THEN 0
                 ELSE round(1000.0 * tp / (tp + fp)) END AS BIGINT)
         AS precision_milli,
       CAST(CASE WHEN tpos = 0 THEN 0
                 ELSE round(1000.0 * tp / tpos) END AS BIGINT)
         AS recall_milli,
       CAST(CASE WHEN 2 * tp + fp + (tpos - tp) = 0 THEN 0
                 ELSE round(1000.0 * 2 * tp / (2 * tp + fp + (tpos - tp)))
            END AS BIGINT) AS f1_milli
FROM cum, tot
"""


def _q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-count profile (count, total, mean, p50/p95) in
    one grouped aggregation.  exact=True here because the oracle audits
    it cross-engine — Spark's exact `percentile` interpolates identically
    to DuckDB's quantile_cont; production at scale uses the default
    percentile_approx sketch (mergeable, bounded memory)."""
    from language_identification_spark.operators.profile import corpus_profile

    return corpus_profile(
        _docs(spark, sf_dir), "lang", "text", percentiles=(0.5, 0.95), exact=True
    )


_SQL_CORPUS_PROFILE = """
WITH t AS (
  SELECT lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tc
  FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(tc) AS BIGINT) AS total_tokens,
       CAST(round(avg(tc) * 1000) AS BIGINT) AS avg_tokens_milli,
       CAST(round(quantile_cont(tc, 0.5) * 1000) AS BIGINT) AS p50_tokens_milli,
       CAST(round(quantile_cont(tc, 0.95) * 1000) AS BIGINT) AS p95_tokens_milli
FROM t GROUP BY lang
"""


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing layout: assign every document its
    training-sequence slot (shard, seq_id, seq_offset) with only
    metadata shuffling — per-shard window sums, integer arithmetic
    throughout, membership reproducible by any engine with sha256."""
    from language_identification_spark.operators.packing import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir), budget=2048, n_shards=8, salt="r5pack"
    )


_SQL_PACK_SEQUENCES = """
WITH meta AS (
  SELECT doc_id,
         CAST(('0x' || substr(sha256('r5pack|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 8 AS shard,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS cum_before
  FROM meta
)
SELECT doc_id, shard, n_tokens,
       cum_before // 2048 AS seq_id,
       cum_before % 2048 AS seq_offset,
       CASE WHEN n_tokens = 0 THEN 0
            ELSE (cum_before + n_tokens - 1) // 2048 - cum_before // 2048 + 1
       END AS seqs_spanned
FROM cum
"""

def _q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packing: the actual training sequences, reassembled
    from document pieces split at sequence boundaries by pure-Catalyst
    slice arithmetic — two content shuffles (assignment join + regroup),
    per-group state bounded by the token budget by construction.  The
    oracle rebuilds every sequence's token stream and compares sha256."""
    from language_identification_spark.operators.packing import (
        materialize_sequences,
    )

    return materialize_sequences(
        _docs(spark, sf_dir), budget=512, n_shards=8, salt="r5pack"
    )


_SQL_PACKED_SEQUENCES = """
WITH meta AS (
  SELECT doc_id, text,
         CAST(('0x' || substr(sha256('r5pack|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 8 AS shard,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, text, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS cum_before
  FROM meta
), nz AS (
  SELECT shard, cum_before, n_tokens,
         regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM cum WHERE n_tokens > 0
), pieces AS (
  SELECT shard, g.seq_id,
         greatest(cum_before, g.seq_id * 512) - g.seq_id * 512 AS off,
         toks[CAST(greatest(cum_before, g.seq_id * 512) - cum_before + 1 AS BIGINT)
              : CAST(least(cum_before + n_tokens, (g.seq_id + 1) * 512) - cum_before AS BIGINT)]
           AS piece
  FROM nz, LATERAL (SELECT unnest(generate_series(
      cum_before // 512, (cum_before + n_tokens - 1) // 512))) AS g(seq_id)
)
SELECT shard, seq_id,
       CAST(len(flatten(list(piece ORDER BY off))) AS BIGINT) AS n_tokens,
       sha256(array_to_string(flatten(list(piece ORDER BY off)), ' ')) AS seq_sha256
FROM pieces GROUP BY shard, seq_id
"""


# shared plan parameters for the mixture queries (sf0.01 documents hold
# ~27k whitespace tokens, so budget 40k + cap 1.5 exercises BOTH the
# max_epochs cap (tail languages) and fractional epochs (English))
_MIX_BUDGET = 40_000
_MIX_ALPHA = 0.5
_MIX_MAX_EPOCHS = 1.5


def _q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampling mixture plan (mBERT/XLM-R-style): one grouped
    aggregation producing per-language token totals, temperature share,
    and the x1000-quantized epoch factor that drives the deterministic
    upsample below."""
    from language_identification_spark.operators.mixture import mixture_plan

    return mixture_plan(
        _docs(spark, sf_dir),
        token_budget=_MIX_BUDGET,
        group_col="lang",
        alpha=_MIX_ALPHA,
        max_epochs=_MIX_MAX_EPOCHS,
    )


_SQL_MIXTURE_PLAN_CTE = f"""
WITH t AS (
  SELECT lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tc
  FROM documents
), g AS (
  SELECT lang, count(*) AS n_docs, CAST(sum(tc) AS BIGINT) AS group_tokens
  FROM t GROUP BY lang
), sh AS (
  SELECT *, CASE WHEN group_tokens > 0
                 THEN pow(CAST(group_tokens AS DOUBLE), {_MIX_ALPHA})
                 ELSE 0.0 END AS w_raw
  FROM g
), n AS (
  SELECT *, w_raw / sum(w_raw) OVER () AS share FROM sh
), plan AS (
  SELECT lang, n_docs, group_tokens,
         CAST(round(share * 1000) AS BIGINT) AS share_milli,
         CASE WHEN group_tokens > 0
              THEN CAST(round(least({_MIX_MAX_EPOCHS},
                   {float(_MIX_BUDGET)} * share / group_tokens) * 1000) AS BIGINT)
              ELSE 0 END AS epochs_milli
  FROM n
)
"""

_SQL_MIXTURE_PLAN = _SQL_MIXTURE_PLAN_CTE + "SELECT * FROM plan"


def _q_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realize the mixture plan: broadcast-join the k-row plan back to
    the corpus and emit one row per (document, copy) — integer copies
    from epochs_milli div 1000, the fractional thousandth resolved by a
    deterministic sha256 bucket so any engine reproduces membership."""
    from language_identification_spark.operators.mixture import (
        mixture_plan,
        upsample_epochs,
    )

    docs = _docs(spark, sf_dir)
    plan = mixture_plan(
        docs,
        token_budget=_MIX_BUDGET,
        group_col="lang",
        alpha=_MIX_ALPHA,
        max_epochs=_MIX_MAX_EPOCHS,
    )
    return upsample_epochs(docs, plan, group_col="lang", salt="r5epoch")


_SQL_EPOCH_UPSAMPLE = _SQL_MIXTURE_PLAN_CTE + """
SELECT d.doc_id, d.lang, g.copy_idx
FROM documents d
JOIN plan p USING (lang),
LATERAL (SELECT unnest(generate_series(1,
    p.epochs_milli // 1000
    + CASE WHEN CAST(('0x' || substr(sha256('r5epoch|' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                % 10000 < (p.epochs_milli % 1000) * 10
           THEN 1 ELSE 0 END))) AS g(copy_idx)
"""


def _q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle rewrite (PSM order) of a deterministic half of
    the corpus — pure Catalyst: sha256 gate + two sha256 cut-point draws
    + substr/concat assembly.  The oracle re-derives the gate, both cut
    points, and the full PSM string in SQL."""
    from language_identification_spark.operators.fim import fim_transform

    docs = _docs(spark, sf_dir)
    return fim_transform(docs, rate=0.5, min_chars=8, salt="r5fim")


_SQL_FIM_TRANSFORM = """
WITH s AS (
  SELECT doc_id, coalesce(text, '') AS text, length(coalesce(text, '')) AS n,
         CAST(('0x' || substr(sha256('r5fim|g|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % 10000 AS g,
         CAST(('0x' || substr(sha256('r5fim|a|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS ua,
         CAST(('0x' || substr(sha256('r5fim|b|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS ub
  FROM documents
), c AS (
  SELECT doc_id, text, n, (g < 5000 AND n >= 8) AS fim,
         least(ua % (n + 1), ub % (n + 1)) AS lo,
         greatest(ua % (n + 1), ub % (n + 1)) AS hi
  FROM s
)
SELECT doc_id, fim,
       CASE WHEN fim
            THEN '<|fim_prefix|>' || substr(text, 1, lo)
                 || '<|fim_suffix|>' || substr(text, hi + 1, n - hi)
                 || '<|fim_middle|>' || substr(text, lo + 1, hi - lo)
            ELSE text END AS fim_text
FROM c
"""


def _q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact⋈dim equi-join: fact side salted from the row key,
    dim replicated per salt — result bit-identical to the plain join the
    oracle runs (salting is semantics-invisible by construction)."""
    from language_identification_spark.operators.joins import salted_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .withColumnRenamed("c_custkey", "o_custkey")
        .select("o_custkey", "c_name", "c_mktsegment")
    )
    return salted_join(
        orders, cust, "o_custkey", salt_from="o_orderkey", salt_factor=8
    ).select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment")


_SQL_SALTED_JOIN = """
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_name, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
"""


def _q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-gate table fingerprint: one-pass per-column row/null/exact-
    distinct counts and stringified min/max over the documents table."""
    from language_identification_spark.operators.validation import (
        column_profile,
    )

    return column_profile(_docs(spark, sf_dir))


def _sql_column_profile() -> str:
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    parts = [
        f"""
SELECT '{c}' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       coalesce(CAST(min({c}) AS VARCHAR), '') AS min_str,
       coalesce(CAST(max({c}) AS VARCHAR), '') AS max_str
FROM documents"""
        for c in cols
    ]
    return "\nUNION ALL\n".join(parts)


def _q_validate_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style ingest expectations as ONE aggregation pass: per-rule
    violation counts (NULL verdicts count as violations — an unverifiable
    row must not pass the gate)."""
    from language_identification_spark.operators.validation import (
        validate_expectations,
    )

    docs = _docs(spark, sf_dir)
    return validate_expectations(
        docs,
        {
            "doc_id_not_null": F.col("doc_id").isNotNull(),
            "text_not_null": F.col("text").isNotNull(),
            "lang_tag_shape": F.col("lang").rlike("^[a-z]{2}"),
            "n_chars_consistent": F.col("n_chars") == F.length(F.col("text")),
            "n_chars_non_negative": F.col("n_chars") >= 0,
        },
    )


_SQL_VALIDATE = """
WITH w AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(CASE WHEN doc_id IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v1,
    CAST(sum(CASE WHEN text IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v2,
    CAST(sum(CASE WHEN coalesce(regexp_matches(lang, '^[a-z]{2}'), false)
             THEN 0 ELSE 1 END) AS BIGINT) AS v3,
    CAST(sum(CASE WHEN coalesce(n_chars = length(text), false)
             THEN 0 ELSE 1 END) AS BIGINT) AS v4,
    CAST(sum(CASE WHEN coalesce(n_chars >= 0, false)
             THEN 0 ELSE 1 END) AS BIGINT) AS v5
  FROM documents
)
SELECT 'doc_id_not_null' AS rule, n_rows, v1 AS n_violations FROM w
UNION ALL SELECT 'text_not_null', n_rows, v2 FROM w
UNION ALL SELECT 'lang_tag_shape', n_rows, v3 FROM w
UNION ALL SELECT 'n_chars_consistent', n_rows, v4 FROM w
UNION ALL SELECT 'n_chars_non_negative', n_rows, v5 FROM w
"""


def _q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter shuffle diagnostic: top-10 keys by row count with
    exact integer corpus shares — the measurement that precedes choosing
    the salt factor / quota cap for mega-repo skew."""
    from language_identification_spark.operators.repolevel import skew_profile

    return skew_profile(_docs(spark, sf_dir), "source", top_n=10)


_SQL_SKEW_PROFILE = """
WITH per AS (
  SELECT source AS key, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS n_chars
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(n_rows) AS BIGINT) AS t_rows,
         CAST(sum(n_chars) AS BIGINT) AS t_chars
  FROM per
)
SELECT key, n_rows, n_chars,
       CAST((1000 * n_rows) // t_rows AS BIGINT) AS rows_share_milli,
       CAST((1000 * n_chars) // t_chars AS BIGINT) AS chars_share_milli
FROM per, tot
ORDER BY n_rows DESC, key
LIMIT 10
"""


def _q_repo_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repo-granularity curation verdicts: one grouped aggregation over
    per-doc quality/token signals with an exact-integer keep decision
    (quality_sum >= tau * n_docs — no float-mean order dependence)."""
    from language_identification_spark.operators.repolevel import repo_rollup

    docs = _docs(spark, sf_dir)
    return repo_rollup(docs, group_col="source", tau_milli=500, min_docs=1)


_SQL_REPO_ROLLUP = """
WITH s AS (
  SELECT source,
         CAST(round(round((
             least(length(text) / 500.0, 1.0)
             + greatest(0.0, 1.0 - (length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g'))
                 * 1.0 / greatest(length(text), 1)) * 4.0)
             + least((len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                   x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x)))
                 * 1.0 / greatest(CASE WHEN trim(text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END, 1)) * 5.0,
                   1.0)
           ) / 3.0, 6) * 1000) AS BIGINT) AS q_milli,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tokens_total,
       CAST(sum(q_milli) AS BIGINT) AS quality_sum,
       (sum(q_milli) >= 500 * count(*) AND count(*) >= 1) AS repo_keep
FROM s
GROUP BY source
"""


def _q_dup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: every document weighted by the inverse of its near-dup
    cluster size (integer floor-div ppm — engine-portable, no float-round
    divergence).  Reuses the oracled MinHash pair miner and the
    large-star/small-star component contraction (O(log n) rounds).  The
    oracle re-derives cluster sizes from the recursive-CTE closure, so it
    checks the labels independently of how they were computed."""
    from language_identification_spark.operators.dedup import (
        connected_components_star,
        duplicate_weights,
        jaccard_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
    comps = connected_components_star(pairs)
    return duplicate_weights(docs, comps)


def _sql_dup_weights() -> str:
    comp_sql = _sql_dedup_components()
    return f"""
WITH comp AS ({comp_sql}),
sizes AS (
  SELECT component, count(*) AS cluster_size FROM comp GROUP BY component
)
SELECT d.doc_id,
       CAST(coalesce(s.cluster_size, 1) AS BIGINT) AS cluster_size,
       CAST(1000000 // coalesce(s.cluster_size, 1) AS BIGINT) AS weight_ppm
FROM documents d
LEFT JOIN comp c ON c.doc_id = d.doc_id
LEFT JOIN sizes s ON s.component = c.component
"""


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary mining: top-100 lowercased whitespace tokens by
    total frequency with document frequency, deterministic tf-desc/token-asc
    tie-break — one partial-aggregated groupBy + TakeOrderedAndProject."""
    from language_identification_spark.operators.vocab import vocab_topk

    docs = _spread(_docs(spark, sf_dir))
    return vocab_topk(docs, k=100)


_SQL_VOCAB_TOPK = """
WITH toks AS (
  SELECT doc_id, t.token
  FROM documents,
       LATERAL unnest(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'))
           AS t(token)
  WHERE length(t.token) >= 1
)
SELECT token,
       count(*) AS tf,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
FROM toks
GROUP BY token
ORDER BY tf DESC, token ASC
LIMIT 100
"""


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training: 8 merge iterations over the
    distinct-word frequency table (one corpus scan; each iteration is a
    partial-aggregated pair count + arg-max, only the winning pair reaches
    the driver).  The oracle replays the identical iteration chain in
    DuckDB as generated CTEs (pair counts via list_zip, the same
    separator-doubling replace, the same count-desc/left/right tie-break)."""
    from language_identification_spark.operators.bpe import bpe_train

    return bpe_train(_docs(spark, sf_dir), n_merges=8)


def _q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword vocabulary after 8 BPE merges: apply the learned merge list
    to the word table and aggregate symbol frequencies (same shuffle shape
    as vocab_topk, over symbols)."""
    from language_identification_spark.operators.bpe import bpe_vocab

    return bpe_vocab(_docs(spark, sf_dir), n_merges=8, k=200)


def _bpe_cte_chain(n_merges: int) -> str:
    """Generated CTE chain replaying BPE training in pure SQL: w0 is the
    character-seeded word table; each iteration i derives pair counts
    (p{i}), the arg-max pair (b{i}), and the merged word table (w{i+1})
    via the same separator-doubling non-overlapping replace the Spark
    operator uses."""
    parts = [
        """w0 AS MATERIALIZED (
  SELECT word, freq,
         array_to_string(regexp_split_to_array(word, ''), ' ') || ' </w>' AS sym
  FROM (
    SELECT t.word AS word, count(*) AS freq
    FROM documents,
         LATERAL unnest(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'))
             AS t(word)
    WHERE length(t.word) >= 1
    GROUP BY t.word
  )
)"""
    ]
    for i in range(n_merges):
        parts.append(
            f"""p{i} AS MATERIALIZED (
  SELECT p[1] AS a, p[2] AS b, sum(freq) AS cnt
  FROM (SELECT freq, unnest(list_zip(s[1:len(s)-1], s[2:])) AS p
        FROM (SELECT freq, string_split(sym, ' ') AS s FROM w{i}))
  GROUP BY 1, 2
)"""
        )
        parts.append(
            f"b{i} AS MATERIALIZED "
            f"(SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        parts.append(
            f"""w{i + 1} AS MATERIALIZED (
  SELECT word, freq,
         trim(replace(replace(' ' || replace(sym, ' ', '  ') || ' ',
              -- coalesce: when the corpus runs out of mergeable pairs b{i}
              -- is EMPTY and the scalar subqueries are NULL; '' makes the
              -- pattern 4 consecutive spaces, which never occurs in the
              -- doubled string, so the rewrite is a no-op — matching the
              -- Spark operator's early-stop instead of NULL-poisoning sym
              ' ' || coalesce((SELECT a FROM b{i}), '') || '  '
                  || coalesce((SELECT b FROM b{i}), '') || ' ',
              ' ' || coalesce((SELECT a FROM b{i}), '')
                  || coalesce((SELECT b FROM b{i}), '') || ' '),
            '  ', ' ')) AS sym
  FROM w{i}
)"""
        )
    return ",\n".join(parts)


def _sql_bpe_merges(n_merges: int = 8) -> str:
    chain = _bpe_cte_chain(n_merges)
    unions = "\nUNION ALL\n".join(
        f'SELECT {i + 1} AS merge_rank, a AS "left", b AS "right", cnt AS pair_count'
        f" FROM b{i}"
        for i in range(n_merges)
    )
    return f"""
WITH {chain}
SELECT CAST(merge_rank AS INTEGER) AS merge_rank,
       "left", "right",
       CAST(pair_count AS BIGINT) AS pair_count
FROM ({unions})
ORDER BY merge_rank
"""


def _sql_bpe_vocab(n_merges: int = 8, k: int = 200) -> str:
    chain = _bpe_cte_chain(n_merges)
    return f"""
WITH {chain}
SELECT symbol, CAST(sum(freq) AS BIGINT) AS freq
FROM (SELECT freq, unnest(string_split(sym, ' ')) AS symbol FROM w{n_merges})
GROUP BY symbol
ORDER BY freq DESC, symbol ASC
LIMIT {k}
"""


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus subword tokenization with the learned merges: training as in
    bpe_merges, then a ROW-LOCAL encode — the whole document becomes one
    symbol string and the 8 merges apply as chained codegen replaces (no
    Exchange, no UDF, no broadcast vocabulary).  Sound because no learned
    pair's left symbol ends in </w>, so replaces can't cross word
    boundaries."""
    from language_identification_spark.operators.bpe import bpe_encode, bpe_train

    docs = _spread(_docs(spark, sf_dir))
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=8).orderBy("merge_rank").collect()
    ]
    return bpe_encode(docs, merges)


def _sql_bpe_encode(n_merges: int = 8) -> str:
    chain = _bpe_cte_chain(n_merges)
    expr = (
        "array_to_string(list_transform("
        "list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),"
        " w -> w <> ''),"
        " w -> array_to_string(regexp_split_to_array(w, ''), ' ') || ' </w>'), ' ')"
    )
    for i in range(n_merges):
        # coalesce: empty b{i} (early-stopped training) must be a no-op
        # rewrite, not a NULL-poisoned encoding — see _bpe_cte_chain
        a = f"coalesce((SELECT a FROM b{i}), '')"
        b = f"coalesce((SELECT b FROM b{i}), '')"
        expr = (
            f"trim(replace(replace(' ' || replace({expr}, ' ', '  ') || ' ', "
            f"' ' || {a} || '  ' || {b} || ' ', "
            f"' ' || {a} || {b} || ' '), '  ', ' '))"
        )
    return f"""
WITH {chain}
SELECT doc_id,
       CAST(len(list_filter(string_split(enc, ' '), x -> x <> '')) AS INTEGER)
           AS n_subwords,
       enc AS bpe
FROM (SELECT doc_id, {expr} AS enc FROM documents)
"""


def _plant_imports(docs: DataFrame) -> DataFrame:
    """Deterministically plant import headers: doc_id % 4 import lines,
    line j naming module mod_{(doc_id*31 + j*17) % 40}, alternating the
    ``import X`` / ``from X import helper`` forms."""
    n = F.pmod(F.col("doc_id"), F.lit(4))
    lines = []
    for j in range(3):
        k = F.pmod(F.col("doc_id") * 31 + j * 17, F.lit(40)).cast("string")
        mod = F.concat(F.lit("mod_"), k)
        line = (
            F.concat(F.lit("import "), mod)
            if j % 2 == 0
            else F.concat(F.lit("from "), mod, F.lit(" import helper"))
        )
        lines.append(F.when(F.lit(j) < n, line))
    hdr = F.concat_ws("\n", F.array_compact(F.array(*lines)))
    planted = F.when(
        n > 0, F.concat(hdr, F.lit("\n"), F.coalesce(F.col("text"), F.lit("")))
    ).otherwise(F.col("text"))
    return docs.withColumn("text", planted)


def _module_owners(docs: DataFrame) -> DataFrame:
    """Module-ownership table: mod_K belongs to the (K % 20)-th distinct
    source in sorted order — derived from the corpus, no collect."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    srcs = docs.select("source").distinct().withColumn(
        "rn", F.row_number().over(Window.orderBy("source"))
    )
    mods = spark.range(40).select(
        F.concat(F.lit("mod_"), F.col("id").cast("string")).alias("module"),
        (F.pmod(F.col("id"), F.lit(20)) + 1).cast("int").alias("rn"),
    )
    return mods.join(srcs, "rn").select("module", F.col("source").alias("repo"))


def _q_import_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Import-graph mining: row-local regex extraction of import statements
    from a 2048-char file prefix, joined through the module-ownership table
    to distinct cross-repo dependency edges.  Content never shuffles — only
    (doc_id, module) pairs leave the scan."""
    from language_identification_spark.operators.graph import (
        extract_imports,
        repo_edges,
    )

    docs = _plant_imports(_docs(spark, sf_dir))
    imports = extract_imports(docs)
    doc_repos = docs.select("doc_id", F.col("source").alias("repo"))
    return repo_edges(imports, doc_repos, _module_owners(docs)).orderBy("src", "dst")


def _q_repo_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank over the mined repo dependency graph: 10 iterations
    of exact ppb-integer arithmetic (edge contribution = rank DIV outdeg,
    uniform dangling redistribution, 85% damping) — bit-identical across
    engines and cluster sizes because every step is an order-independent
    integer sum.  The oracle replays all 10 iterations as generated
    materialized CTEs."""
    from language_identification_spark.operators.graph import (
        extract_imports,
        pagerank_int,
        repo_edges,
    )

    docs = _plant_imports(_docs(spark, sf_dir))
    imports = extract_imports(docs)
    doc_repos = docs.select("doc_id", F.col("source").alias("repo"))
    edges = repo_edges(imports, doc_repos, _module_owners(docs))
    nodes = docs.select(F.col("source").alias("node")).distinct()
    return pagerank_int(nodes, edges, n_iters=10)


def _sql_import_graph_ctes() -> str:
    """Shared oracle CTEs: planted text -> imports -> owners -> edges."""
    return """
planted AS MATERIALIZED (
  SELECT doc_id, source,
         CASE WHEN doc_id % 4 > 0 THEN
           array_to_string(list_transform(range(0, (doc_id % 4)::INT), j ->
             CASE WHEN j % 2 = 0
               THEN 'import mod_' || ((doc_id * 31 + j * 17) % 40)::VARCHAR
               ELSE 'from mod_' || ((doc_id * 31 + j * 17) % 40)::VARCHAR
                    || ' import helper'
             END), chr(10)) || chr(10) || coalesce(text, '')
         ELSE text END AS text
  FROM documents
),
imports AS MATERIALIZED (
  SELECT DISTINCT doc_id, m AS module
  FROM planted,
       LATERAL unnest(regexp_extract_all(
         substr(coalesce(text, ''), 1, 2048),
         '(?m)^(?:import|from)[ ]+([A-Za-z_][A-Za-z0-9_.]*)', 1)) AS t(m)
),
srcs AS MATERIALIZED (
  SELECT source, row_number() OVER (ORDER BY source) AS rn
  FROM (SELECT DISTINCT source FROM documents)
),
owners AS MATERIALIZED (
  SELECT 'mod_' || i::VARCHAR AS module, s.source AS repo
  FROM range(40) t(i) JOIN srcs s ON s.rn = (i % 20) + 1
),
edges AS MATERIALIZED (
  SELECT DISTINCT p.source AS src, o.repo AS dst
  FROM imports i
  JOIN planted p ON p.doc_id = i.doc_id
  JOIN owners o ON o.module = i.module
  WHERE p.source <> o.repo
)"""


def _sql_import_edges() -> str:
    return f"""
WITH {_sql_import_graph_ctes()}
SELECT src, dst FROM edges ORDER BY src, dst
"""


def _sql_pagerank_chain(n_iters: int = 10, damping_pct: int = 85) -> str:
    base = _sql_import_graph_ctes()
    parts = [
        base,
        """nn AS MATERIALIZED (SELECT count(DISTINCT source) AS n FROM documents)""",
        """outdeg AS MATERIALIZED (
  SELECT src, count(*) AS outdeg FROM edges GROUP BY src
)""",
        """r0 AS MATERIALIZED (
  SELECT source AS node, CAST(1000000000 // (SELECT n FROM nn) AS BIGINT)
         AS rank_ppb
  FROM (SELECT DISTINCT source FROM documents)
)""",
    ]
    for i in range(n_iters):
        parts.append(
            f"""d{i} AS MATERIALIZED (
  SELECT coalesce(sum(r.rank_ppb), 0) // (SELECT n FROM nn) AS share
  FROM r{i} r LEFT JOIN outdeg o ON o.src = r.node
  WHERE o.src IS NULL
)"""
        )
        parts.append(
            f"""f{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(r.rank_ppb // o.outdeg) AS inflow
  FROM edges e
  JOIN r{i} r ON r.node = e.src
  JOIN outdeg o ON o.src = e.src
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""r{i + 1} AS MATERIALIZED (
  SELECT n.node,
         CAST({100 - damping_pct} * (1000000000 // (SELECT n FROM nn)) // 100
              + {damping_pct} * (coalesce(f.inflow, 0) + (SELECT share FROM d{i}))
                // 100 AS BIGINT) AS rank_ppb
  FROM (SELECT node FROM r0) n LEFT JOIN f{i} f ON f.node = n.node
)"""
        )
    return ",\n".join(parts)


def _sql_repo_pagerank(n_iters: int = 10, damping_pct: int = 85) -> str:
    return f"""
WITH {_sql_pagerank_chain(n_iters, damping_pct)}
SELECT node, rank_ppb FROM r{n_iters}
"""


def _q_rank_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-weighted sampling inputs: every document joined (broadcast)
    to its repo's PageRank with an exact-integer rank-proportional
    weight_ppm — the graph stage feeding the mixture/upsample stages."""
    from language_identification_spark.operators.graph import (
        extract_imports,
        pagerank_int,
        rank_weights,
        repo_edges,
    )

    docs = _plant_imports(_docs(spark, sf_dir))
    imports = extract_imports(docs)
    doc_repos = docs.select("doc_id", F.col("source").alias("repo"))
    edges = repo_edges(imports, doc_repos, _module_owners(docs))
    nodes = docs.select(F.col("source").alias("node")).distinct()
    ranks = pagerank_int(nodes, edges, n_iters=10)
    return rank_weights(_docs(spark, sf_dir), ranks)


def _sql_rank_weighted_docs(n_iters: int = 10) -> str:
    return f"""
WITH {_sql_pagerank_chain(n_iters)}
SELECT d.doc_id, d.source, r.rank_ppb,
       CAST(r.rank_ppb * (SELECT count(*) FROM r{n_iters}) // 1000 AS BIGINT)
           AS weight_ppm
FROM documents d
LEFT JOIN r{n_iters} r ON r.node = d.source
"""


_CODE_SNIPPETS = (
    # {K} is replaced per-doc with (doc_id % 50) in both engines
    "def fn_{K}(x):\n    # helper\n    if x > 0:\n        return x\n"
    "    return 0\nclass Cls_{K}:\n    pass\n",
    "function fn_{K}(x) {\n  // helper\n  for (;;) { }\n  return x\n}\n",
    "func Fn_{K}(x int) int {\n\tif x > 0 {\n\t\treturn x\n\t}\n\treturn 0\n}\n",
)


def _plant_code_snippets(docs: DataFrame) -> DataFrame:
    """Plant a language-varied code snippet on every 5th document
    (variant = doc_id % 3, symbol index K = doc_id % 50) so the symbol
    miner and metrics see real def/class/function/func structures."""
    k = F.pmod(F.col("doc_id"), F.lit(50)).cast("string")
    variants = []
    for snip in _CODE_SNIPPETS:
        pieces: list = []
        for idx, part in enumerate(snip.split("{K}")):
            if idx:
                pieces.append(k)
            pieces.append(F.lit(part))
        variants.append(F.concat(*pieces))
    snippet = F.element_at(
        F.array(*variants), (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int")
    )
    planted = F.when(
        F.pmod(F.col("doc_id"), F.lit(5)) == 0,
        F.concat(snippet, F.coalesce(F.col("text"), F.lit(""))),
    ).otherwise(F.col("text"))
    return docs.withColumn("text", planted)


def _q_code_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-code symbol mining: multiline-regex extraction of
    def/class/function/func definitions (row-local, no UDF), distinct per
    (doc, kind, name)."""
    from language_identification_spark.operators.codestats import mine_symbols

    return mine_symbols(_plant_code_snippets(_docs(spark, sf_dir)))


def _q_code_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file integer complexity metrics (lines, max length, max indent,
    branch keywords, comment/blank counts and ppm ratios) — one row-local
    projection, integer DIV ratios for engine-exact results."""
    from language_identification_spark.operators.codestats import code_metrics

    return code_metrics(_plant_code_snippets(_docs(spark, sf_dir)))


def _sql_code_planted() -> str:
    k_sql = "(doc_id % 50)::VARCHAR"
    cases = []
    for i, snip in enumerate(_CODE_SNIPPETS):
        sql_parts = [
            "'"
            + part.replace("'", "''").replace("\n", "' || chr(10) || '")
            + "'"
            for part in snip.split("{K}")
        ]
        lit = f" || {k_sql} || ".join(sql_parts)
        cases.append(f"        WHEN {i} THEN {lit}")
    case_block = "\n".join(cases)
    return f"""
planted AS MATERIALIZED (
  SELECT doc_id, source,
         CASE WHEN doc_id % 5 = 0 THEN
           (CASE doc_id % 3
{case_block}
            END) || coalesce(text, '')
         ELSE text END AS text
  FROM documents
)"""


def _sql_code_symbols() -> str:
    from language_identification_spark.operators.codestats import _SYMBOL_PATTERNS

    unions = "\nUNION ALL\n".join(
        f"""SELECT doc_id, '{kind}' AS kind,
       unnest(regexp_extract_all(coalesce(text, ''), '{pat}', 1)) AS name
FROM planted"""
        for kind, pat in _SYMBOL_PATTERNS
    )
    return f"""
WITH {_sql_code_planted()}
SELECT DISTINCT doc_id, kind, name FROM ({unions})
"""


def _sql_code_metrics() -> str:
    from language_identification_spark.operators.codestats import (
        BRANCH_RE,
        COMMENT_RE,
        PPM,
    )

    return f"""
WITH {_sql_code_planted()}
SELECT doc_id,
       CAST(n_lines AS INTEGER) AS n_lines,
       CAST(max_line_len AS INTEGER) AS max_line_len,
       CAST(max_indent AS INTEGER) AS max_indent,
       CAST(n_branches AS INTEGER) AS n_branches,
       CAST(n_comment_lines AS INTEGER) AS n_comment_lines,
       CAST(n_blank_lines AS INTEGER) AS n_blank_lines,
       CAST(({PPM} * n_comment_lines) // n_lines AS BIGINT) AS comment_ppm,
       CAST(({PPM} * n_blank_lines) // n_lines AS BIGINT) AS blank_ppm
FROM (
  SELECT doc_id,
         len(ls) AS n_lines,
         coalesce(list_max(list_transform(ls, x -> length(x))), 0)
             AS max_line_len,
         coalesce(list_max(list_transform(ls, x -> length(x) - length(ltrim(x)))), 0)
             AS max_indent,
         len(regexp_extract_all(t, '{BRANCH_RE}')) AS n_branches,
         len(list_filter(ls, x -> regexp_matches(x, '{COMMENT_RE}')))
             AS n_comment_lines,
         len(list_filter(ls, x -> trim(x) = '')) AS n_blank_lines
  FROM (SELECT doc_id, coalesce(text, '') AS t,
               string_split(coalesce(text, ''), chr(10)) AS ls
        FROM planted)
)
"""


def _q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding table: per-dimension
    (min, max) stats pass (d-row aggregate, same driver-scalar budget as
    the IVF trainer) + row-local floor-quantize fold-in.  The oracle
    re-derives the ranges and every code in SQL; codes are emitted as a
    comma-joined string so the array compares engine-neutrally."""
    from language_identification_spark.operators.quantize import (
        dimension_ranges,
        quantize_embeddings,
    )

    emb = _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    ranges = dimension_ranges(emb)
    out = quantize_embeddings(emb, ranges)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.concat_ws(",", F.col("qvec").cast("array<string>")).alias("qvec_str"),
    )


_SQL_QUANTIZE_EMBEDDINGS = """
WITH ex AS (
  SELECT vec_id, CAST(g.i AS INT) AS pos, embedding[g.i] AS x
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding)))) AS g(i)
),
dims AS (
  SELECT pos, min(x) AS lo, max(x) AS hi FROM ex GROUP BY pos
),
q AS (
  SELECT e.vec_id, e.pos,
         CASE WHEN d.hi = d.lo THEN 0
              ELSE greatest(0, least(255,
                   CAST(floor((CAST(e.x AS DOUBLE) - CAST(d.lo AS DOUBLE)) * 255.0
                        / (CAST(d.hi AS DOUBLE) - CAST(d.lo AS DOUBLE))) AS INT)))
         END AS code
  FROM ex e JOIN dims d USING (pos)
)
SELECT vec_id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY pos) AS qvec_str
FROM q GROUP BY vec_id
"""


# License headers planted deterministically on a doc_id-gated subset so the
# detector's every branch (SPDX tag, each phrase class, tag-beats-phrase
# precedence, no-license) is exercised and independently re-derived by the
# oracle — same planted-input pattern as the FIM transform.
_LICENSE_HEADERS = [
    "SPDX-License-Identifier: MIT\n",
    "Permission is hereby granted, free of charge, to any person obtaining a copy\n",
    'Licensed under the Apache License, Version 2.0 (the "License");\n',
    "under the terms of the GNU General Public License as published by the FSF\n",
    "under the terms of the GNU Lesser General Public License as published\n",
    "This Source Code Form is subject to the terms of the Mozilla Public License, v. 2.0.\n",
    "Redistribution and use in source and binary forms, with or without modification\n",
    "SPDX-License-Identifier: GPL-3.0-only\nPermission is hereby granted, free of charge\n",
    "This is free and unencumbered software released into the public domain.\n",
]


def _plant_license_headers(docs: DataFrame) -> DataFrame:
    hdr = F.element_at(
        F.array(*[F.lit(h) for h in _LICENSE_HEADERS]),
        (F.pmod(F.col("doc_id"), F.lit(9)) + 1).cast("int"),
    )
    planted = F.when(
        F.pmod(F.col("doc_id"), F.lit(7)) == 0,
        F.concat(hdr, F.coalesce(F.col("text"), F.lit(""))),
    ).otherwise(F.col("text"))
    return docs.withColumn("text", planted)


def _sql_license_cls() -> str:
    """Shared oracle CTE: planted text -> per-doc license class."""
    hdr_cases = "\n".join(
        f"        WHEN {i} THEN '{h}'".replace("\n", "' || chr(10) || '")
        for i, h in enumerate(_LICENSE_HEADERS)
    )
    return f"""
src AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 7 = 0 THEN
           (CASE doc_id % 9
{hdr_cases}
            END) || coalesce(text, '')
         ELSE text END AS text
  FROM documents
),
heads AS (
  SELECT doc_id, source,
         substr(coalesce(text, ''), 1, 4096) AS head
  FROM src
),
cls AS (
  SELECT doc_id, source,
         CASE
           WHEN regexp_extract(head,
                'SPDX-License-Identifier:[ \\t]*([A-Za-z0-9.\\-]+\\+?)', 1) <> ''
             THEN regexp_extract(head,
                'SPDX-License-Identifier:[ \\t]*([A-Za-z0-9.\\-]+\\+?)', 1)
           WHEN contains(lower(head), 'permission is hereby granted, free of charge') THEN 'MIT'
           WHEN contains(lower(head), 'apache license, version 2.0') THEN 'Apache-2.0'
           WHEN contains(lower(head), 'gnu affero general public license') THEN 'AGPL-3.0'
           WHEN contains(lower(head), 'gnu lesser general public license') THEN 'LGPL-3.0'
           WHEN contains(lower(head), 'gnu general public license') THEN 'GPL-3.0'
           WHEN contains(lower(head), 'mozilla public license') THEN 'MPL-2.0'
           WHEN contains(lower(head), 'redistribution and use in source and binary forms') THEN 'BSD-3-Clause'
           WHEN contains(lower(head), 'this is free and unencumbered software released into the public domain') THEN 'Unlicense'
           ELSE NULL
         END AS license_spdx
  FROM heads
)"""


_PERMISSIVE_SQL = "('MIT','Apache-2.0','BSD-3-Clause','BSD-2-Clause','ISC','Unlicense','0BSD')"
_COPYLEFT_SQL = (
    "('GPL-2.0','GPL-3.0','AGPL-3.0','LGPL-2.1','LGPL-3.0',"
    "'GPL-2.0-only','GPL-2.0-or-later','GPL-3.0-only','GPL-3.0-or-later',"
    "'AGPL-3.0-only','AGPL-3.0-or-later','LGPL-2.1-only','LGPL-2.1-or-later',"
    "'LGPL-3.0-only','LGPL-3.0-or-later')"
)


def _q_license_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file license detection (SPDX tag > header phrases > NULL) over
    the corpus with deterministically planted headers; row-local CASE chain
    on a 4096-char JVM-side prefix clip — no UDF, no Exchange."""
    from language_identification_spark.operators.license import detect_license

    docs = _plant_license_headers(_docs(spark, sf_dir))
    return detect_license(docs).select("doc_id", "license_spdx", "license_permissive")


def _sql_license_detect() -> str:
    return f"""
WITH {_sql_license_cls()}
SELECT doc_id, license_spdx,
       coalesce(license_spdx IN {_PERMISSIVE_SQL}, FALSE) AS license_permissive
FROM cls
"""


def _q_license_repo_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repo-level license census + keep verdict (>=1 permissive file, zero
    copyleft files): one partial-aggregated groupBy carrying four longs per
    repo — exact-integer, order-independent."""
    from language_identification_spark.operators.license import (
        detect_license,
        repo_license_rollup,
    )

    docs = _plant_license_headers(_docs(spark, sf_dir))
    lic = detect_license(docs).withColumnRenamed("source", "repo")
    return repo_license_rollup(lic)


def _sql_license_repo_rollup() -> str:
    return f"""
WITH {_sql_license_cls()}
SELECT source AS repo,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN license_spdx IN {_PERMISSIVE_SQL} THEN 1 ELSE 0 END) AS BIGINT) AS n_permissive,
       CAST(sum(CASE WHEN license_spdx IN {_COPYLEFT_SQL} THEN 1 ELSE 0 END) AS BIGINT) AS n_copyleft,
       CAST(sum(CASE WHEN license_spdx IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown,
       (sum(CASE WHEN license_spdx IN {_PERMISSIVE_SQL} THEN 1 ELSE 0 END) > 0
        AND sum(CASE WHEN license_spdx IN {_COPYLEFT_SQL} THEN 1 ELSE 0 END) = 0) AS keep
FROM cls
GROUP BY source
"""


def _q_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: 60-bit sha256 hash key per doc
    plus shard assignment — a pure function of (seed, doc_id), independent
    of partitioning and cluster size.  Row-local key/shard, range-exchange
    total order."""
    from language_identification_spark.operators.ordering import (
        deterministic_shuffle,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    return deterministic_shuffle(docs, seed="epoch0", n_shards=16).select(
        "doc_id", "shuffle_key", "shard"
    )


_SQL_SHUFFLE_ORDER = """
SELECT doc_id,
       CAST(('0x' || substr(sha256('epoch0|' || CAST(doc_id AS VARCHAR)), 1, 15))
            AS BIGINT) AS shuffle_key,
       CAST(CAST(('0x' || substr(sha256('epoch0|' || CAST(doc_id AS VARCHAR)), 1, 15))
            AS BIGINT) % 16 AS INT) AS shard
FROM documents
"""


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 64-token windows with stride 48 (16-token
    overlap) over whitespace tokens — row-local sequence+posexplode+slice,
    no Exchange, no UDF."""
    from language_identification_spark.operators.chunking import chunk_documents

    docs = _docs(spark, sf_dir)
    return chunk_documents(docs, max_tokens=64, stride=48)


_SQL_CHUNK_DOCUMENTS = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '\\s+') AS t
  FROM documents
  WHERE trim(coalesce(text, '')) <> ''
),
starts AS (
  SELECT doc_id, t,
         CAST(g.s AS INT) AS start,
         CAST((g.s / 48) AS INT) AS chunk_id
  FROM toks, LATERAL (SELECT unnest(generate_series(0, len(t) - 1, 48))) AS g(s)
)
SELECT doc_id, chunk_id,
       CAST(len(t[start + 1 : least(start + 64, len(t))]) AS INT) AS chunk_n_tokens,
       array_to_string(t[start + 1 : least(start + 64, len(t))], ' ') AS chunk_text
FROM starts
"""


def _q_quality_lr_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed LR quality classifier: full-batch GD on-cluster (one
    aggregation job per iteration, only the 4-vector gradient reaches the
    driver), then row-local scoring with the weights folded in as
    literals.  The oracle retrains independently in numpy on
    DuckDB-derived exact-integer features and re-scores every doc in SQL
    — bit-identical thanks to 9-decimal per-iteration weight quantization
    (same discipline as ivf_topk_trained)."""
    from language_identification_spark.models.train_lr import (
        score_quality_lr,
        train_quality_lr,
    )

    docs = _spread(_docs(spark, sf_dir))
    w = train_quality_lr(docs)
    return score_quality_lr(docs, w)


def _numpy_train_quality_lr(
    len_milli: "np.ndarray",
    punct_permilli: "np.ndarray",
    stop_permilli: "np.ndarray",
    label: "np.ndarray",
    iters: int,
    lr: float,
) -> list[float]:
    """Independent numpy re-derivation of the LR training trajectory —
    used only to generate oracle weight literals.  Left-associated margin
    and 9-decimal per-iteration weight quantization mirror the cross-
    engine contract in models/train_lr.py."""
    x1 = len_milli.astype(np.float64) / 1000.0
    x2 = punct_permilli.astype(np.float64) / 1000.0
    x3 = stop_permilli.astype(np.float64) / 1000.0
    y = label.astype(np.float64)
    n = float(len(y))
    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(iters):
        margin = ((w[0] + w[1] * x1) + w[2] * x2) + w[3] * x3
        resid = 1.0 / (1.0 + np.exp(-margin)) - y
        grads = [
            float(resid.sum()),
            float((resid * x1).sum()),
            float((resid * x2).sum()),
            float((resid * x3).sum()),
        ]
        w = [round(w[j] - lr * grads[j] / n, 9) for j in range(4)]
    return w


_SQL_LR_FEATURES = """
  SELECT doc_id,
         least(length(coalesce(text, '')) * 2, 1000) AS len_milli,
         CAST(floor(CAST(length(regexp_replace(coalesce(text, ''),
                  '[\\p{L}\\p{N}\\s]', '', 'g')) * 1000 AS DOUBLE)
             / greatest(length(coalesce(text, '')), 1)) AS BIGINT) AS punct_permilli,
         CAST(floor(CAST(len(list_filter(
                  regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                  x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x)))
                  * 1000 AS DOUBLE)
             / greatest(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'))
                        END, 1)) AS BIGINT) AS stop_permilli
  FROM documents
"""


def _sql_quality_lr_predict() -> str | None:
    """Data-dependent oracle: retrain in numpy from DuckDB-derived integer
    features, embed the weights as literals, re-score in SQL.  Returns
    None (driver degrades to rows-only) if the table is unreadable."""
    import os

    from language_identification_spark.models.train_lr import (
        DEFAULT_ITERS,
        DEFAULT_LR,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        import duckdb

        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        feats = con.sql(_SQL_LR_FEATURES).df()
        con.close()
    except Exception:  # noqa: BLE001 — any read failure degrades gracefully
        return None
    if feats.empty:
        return None
    label = (
        (feats["len_milli"].to_numpy() >= 600)
        & (feats["punct_permilli"].to_numpy() <= 150)
    ).astype(np.int64)
    w = _numpy_train_quality_lr(
        feats["len_milli"].to_numpy(),
        feats["punct_permilli"].to_numpy(),
        feats["stop_permilli"].to_numpy(),
        label,
        DEFAULT_ITERS,
        DEFAULT_LR,
    )
    return f"""
WITH f AS ({_SQL_LR_FEATURES}),
m AS (
  SELECT doc_id,
         ((({w[0]!r} + {w[1]!r} * (CAST(len_milli AS DOUBLE) / 1000.0))
            + {w[2]!r} * (CAST(punct_permilli AS DOUBLE) / 1000.0))
            + {w[3]!r} * (CAST(stop_permilli AS DOUBLE) / 1000.0)) AS margin
  FROM f
)
SELECT doc_id,
       CAST(floor(margin * 1000000.0) AS BIGINT) AS margin_micro,
       (margin >= 0) AS pred
FROM m
"""


# ---------------------------------------------------------------------------
# governance suite: planted-PII scrub audit, entropy-based secret detection,
# snapshot diff, repo fork detection, embedding-norm outliers
# ---------------------------------------------------------------------------

def _plant_pii(docs: DataFrame) -> DataFrame:
    """Deterministically append PII/secret lines to subsets of docs (the raw
    synthetic corpus is PII-free, so the audit/secret queries plant their own
    evidence — same pattern as ``_plant_license_headers``).  The oracle
    re-derives byte-identical suffixes in SQL (``chr(10)``, ``||``,
    ``to_base64(from_hex(sha256(...)))`` mirror ``F.lit("\\n")``, ``concat``,
    ``F.base64(F.unhex(F.sha2(...)))``)."""
    i = F.col("doc_id")
    s = i.cast("string")
    nl = F.lit("\n")

    def sha_hex(prefix: str) -> F.Column:
        return F.sha2(F.encode(F.concat(F.lit(prefix), s), "UTF-8"), 256)

    suffix = F.concat(
        F.when(
            i % 5 == 0,
            F.concat(
                nl,
                F.lit("contact user"),
                s,
                F.lit("@example.com at 10.1.2."),
                (i % 250).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            i % 17 == 0,
            F.concat(nl, F.lit("aws AKIA"), F.upper(F.substring(sha_hex("ak|"), 1, 16))),
        ).otherwise(F.lit("")),
        F.when(
            i % 4 == 1,
            F.concat(nl, F.lit("token = "), F.base64(F.unhex(sha_hex("sk|")))),
        ).otherwise(F.lit("")),
        F.when(
            i % 6 == 2,
            F.concat(nl, F.lit("id marker_aaaaaaaaaaaaaaaaaaaaaaaaaaaa")),
        ).otherwise(F.lit("")),
    )
    return docs.withColumn(
        "text", F.concat(F.coalesce(F.col("text"), F.lit("")), suffix)
    )


_SQL_PII_CTE = """
pii AS MATERIALIZED (
  SELECT doc_id, source,
    coalesce(text, '')
    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'contact user' || CAST(doc_id AS VARCHAR)
            || '@example.com at 10.1.2.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
    || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'aws AKIA'
            || upper(substr(sha256('ak|' || CAST(doc_id AS VARCHAR)), 1, 16)) ELSE '' END
    || CASE WHEN doc_id % 4 = 1 THEN chr(10) || 'token = '
            || to_base64(from_hex(sha256('sk|' || CAST(doc_id AS VARCHAR)))) ELSE '' END
    || CASE WHEN doc_id % 6 = 2 THEN chr(10) || 'id marker_aaaaaaaaaaaaaaaaaaaaaaaaaaaa' ELSE '' END
    AS text
  FROM documents
)"""


def _q_scrub_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-repo PII/secret census over the planted corpus — counts come
    from the scrub chain itself in one Arrow UDF (six longs back per row),
    then one partial-aggregated groupBy on the repo key."""
    from language_identification_spark.operators.audit import scrub_audit

    docs = _spread(_plant_pii(_docs(spark, sf_dir)))
    return scrub_audit(docs).withColumnRenamed("source", "repo")


def _sql_scrub_audit() -> str:
    from language_identification_spark.scrub.patterns import PATTERNS

    sql = (
        f"WITH {_SQL_PII_CTE}, "
        "s0 AS (SELECT source, text AS t FROM pii)"
    )
    carried: list[str] = []
    prev = "s0"
    for idx, (name, pat, repl) in enumerate(PATTERNS, 1):
        p = pat.replace("'", "''")
        r = repl.replace("'", "''")
        keep = (", ".join(carried) + ", ") if carried else ""
        sql += (
            f", s{idx} AS (SELECT source, {keep}"
            f"CAST(len(regexp_extract_all(t, '{p}')) AS BIGINT) AS n_{name}, "
            f"regexp_replace(t, '{p}', '{r}', 'g') AS t FROM {prev})"
        )
        carried.append(f"n_{name}")
        prev = f"s{idx}"
    total = " + ".join(carried)
    sums = ", ".join(f"CAST(sum({c}) AS BIGINT) AS {c}" for c in carried)
    return (
        sql
        + f", d AS (SELECT source, {', '.join(carried)}, {total} AS n_total FROM {prev})"
        f" SELECT source AS repo, {sums},"
        f" CAST(sum(n_total) AS BIGINT) AS n_redactions,"
        f" CAST(sum(CASE WHEN n_total > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,"
        f" count(*) AS n_docs FROM d GROUP BY source"
    )


def _q_entropy_secrets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-entropy credential candidates over the planted corpus —
    row-local token extraction + Shannon-entropy fold, zero Exchanges."""
    from language_identification_spark.operators.audit import secret_candidates

    docs = _spread(_plant_pii(_docs(spark, sf_dir)))
    return secret_candidates(docs)


def _sql_entropy_secrets() -> str:
    from language_identification_spark.operators.audit import (
        DEFAULT_ENTROPY_BITS,
        SECRET_TOKEN_REGEX,
    )

    thresh = int(round(DEFAULT_ENTROPY_BITS * 1000))
    return f"""
WITH {_SQL_PII_CTE},
tok AS (
  SELECT doc_id,
         unnest(list_transform(regexp_extract_all(text, '{SECRET_TOKEN_REGEX}'),
                (x, i) -> {{'pos': i - 1, 'tok': x}}), recursive := true)
  FROM pii
),
c AS (
  SELECT doc_id, pos, tok,
         list_filter(string_split(tok, ''), x -> x <> '') AS chars,
         len(tok)::DOUBLE AS L
  FROM tok
),
e AS (
  SELECT doc_id, pos, tok, L,
         -list_sum(list_transform(list_distinct(chars),
            c0 -> (len(list_filter(chars, x -> x = c0))::DOUBLE / L)
                  * log2(len(list_filter(chars, x -> x = c0))::DOUBLE / L))) AS ent
  FROM c
)
SELECT doc_id, CAST(pos AS INT) AS pos, CAST(L AS INT) AS token_len,
       sha256(tok) AS token_sha256,
       CAST(round(round(ent, 6) * 1000) AS BIGINT) AS entropy_milli,
       (CAST(round(round(ent, 6) * 1000) AS BIGINT) >= {thresh}) AS is_secret
FROM e
"""


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-to-version corpus diff: v1 drops doc_id%11==3 ('added' later),
    v2 drops doc_id%13==5 ('removed') and patches doc_id%7==2 ('changed').
    Hashes are computed scan-side; the full-outer join shuffles hashes only."""
    from language_identification_spark.operators.diffing import snapshot_diff

    docs = _docs(spark, sf_dir)
    v1 = docs.filter(F.col("doc_id") % 11 != 3)
    v2 = docs.filter(F.col("doc_id") % 13 != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 2,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit("#patched")),
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(v1, v2)


_SQL_SNAPSHOT_DIFF = """
WITH v1 AS (
  SELECT doc_id, sha256(coalesce(text, '')) AS old_sha256
  FROM documents WHERE doc_id % 11 <> 3
),
v2 AS (
  SELECT doc_id,
         sha256(CASE WHEN doc_id % 7 = 2 THEN coalesce(text, '') || '#patched'
                     ELSE coalesce(text, '') END) AS new_sha256
  FROM documents WHERE doc_id % 13 <> 5
),
j AS (
  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
         CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN old_sha256 <> new_sha256 THEN 'changed'
              ELSE 'unchanged' END AS status,
         old_sha256, new_sha256
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT doc_id, status, old_sha256, new_sha256 FROM j WHERE status <> 'unchanged'
"""


def _q_fork_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repo-level fork detection over a corpus with planted forks: four
    'fork_srcK' repos carrying every third file of their upstream.  Exact
    Jaccard over file-hash sets via a capped posting-list self-join."""
    from language_identification_spark.operators.repolevel import fork_pairs

    docs = _docs(spark, sf_dir)
    forked = docs.filter(
        (F.col("doc_id") % 3 == 0)
        & F.col("source").isin("src0", "src1", "src2", "src3")
    ).withColumn("source", F.concat(F.lit("fork_"), F.col("source")))
    corpus = docs.select("source", "text").unionByName(
        forked.select("source", "text")
    )
    return fork_pairs(corpus, min_jaccard_milli=150)


_SQL_FORK_PAIRS = """
WITH corpus AS (
  SELECT source AS repo, coalesce(text, '') AS t FROM documents
  UNION ALL
  SELECT 'fork_' || source, coalesce(text, '') FROM documents
  WHERE doc_id % 3 = 0 AND source IN ('src0', 'src1', 'src2', 'src3')
),
files AS MATERIALIZED (SELECT DISTINCT repo, sha256(t) AS h FROM corpus),
sizes AS MATERIALIZED (SELECT repo, count(*) AS n FROM files GROUP BY repo),
eligible AS (SELECT h FROM files GROUP BY h HAVING count(*) <= 64),
posting AS MATERIALIZED (SELECT f.repo, f.h FROM files f JOIN eligible e USING (h)),
shared AS (
  SELECT a.repo AS repo_a, b.repo AS repo_b, count(*) AS n_shared
  FROM posting a JOIN posting b ON a.h = b.h AND a.repo < b.repo
  GROUP BY 1, 2
)
SELECT repo_a, repo_b, n_shared, sa.n AS n_a, sb.n AS n_b,
       CAST((1000 * n_shared) // (sa.n + sb.n - n_shared) AS BIGINT) AS jaccard_milli
FROM shared
JOIN sizes sa ON sa.repo = shared.repo_a
JOIN sizes sb ON sb.repo = shared.repo_b
WHERE (1000 * n_shared) // (sa.n + sb.n - n_shared) >= 150
"""


def _q_repo_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repo-context assembly (StarCoder2-style training documents): the
    planted-import corpus layered by `topo_layers` (same DAG as
    `topo_order`), then every repo's files concatenated in (layer,
    doc_id) order — definitions before uses — inside one grouped
    aggregation (array_sort of structs; no global sort, no window).  The
    hash of the assembled context travels, the text does not; the oracle
    re-assembles per repo with string_agg ORDER BY (layer, doc_id) and
    must match the sha256 byte-for-byte."""
    from language_identification_spark.operators.graph import (
        extract_imports,
        repo_context_concat,
        topo_layers,
    )

    docs = _plant_imports(_docs(spark, sf_dir))
    imports = extract_imports(docs).withColumn(
        "k", F.substring(F.col("module"), 5, 10).cast("long")
    )
    fowners = docs.groupBy(F.pmod(F.col("doc_id"), F.lit(40)).alias("k")).agg(
        F.min("doc_id").alias("owner")
    )
    fedges = (
        imports.join(fowners, "k")
        .filter(F.col("owner") < F.col("doc_id"))
        .select(F.col("owner").alias("src"), F.col("doc_id").alias("dst"))
        .distinct()
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    layers = topo_layers(nodes, fedges)
    return repo_context_concat(docs, layers)


_SQL_REPO_CONTEXT = """
WITH topo AS (
  WITH RECURSIVE imports AS MATERIALIZED (
    SELECT DISTINCT doc_id, m AS module
    FROM (
      SELECT doc_id,
             CASE WHEN doc_id % 4 > 0 THEN
               array_to_string(list_transform(range(0, (doc_id % 4)::INT), j ->
                 CASE WHEN j % 2 = 0
                   THEN 'import mod_' || ((doc_id * 31 + j * 17) % 40)::VARCHAR
                   ELSE 'from mod_' || ((doc_id * 31 + j * 17) % 40)::VARCHAR
                        || ' import helper'
                 END), chr(10)) || chr(10) || coalesce(text, '')
             ELSE text END AS text
      FROM documents
    ) planted,
         LATERAL unnest(regexp_extract_all(
           substr(coalesce(text, ''), 1, 2048),
           '(?m)^(?:import|from)[ ]+([A-Za-z_][A-Za-z0-9_.]*)', 1)) AS t(m)
  ),
  fowners AS MATERIALIZED (
    SELECT doc_id % 40 AS k, min(doc_id) AS owner FROM documents GROUP BY 1
  ),
  fedges AS MATERIALIZED (
    SELECT DISTINCT o.owner AS src, i.doc_id AS dst
    FROM imports i
    JOIN fowners o ON o.k = CAST(substr(i.module, 5) AS BIGINT)
    WHERE o.owner < i.doc_id
  ),
  walk AS (
    SELECT doc_id AS node, 0 AS depth FROM documents
    WHERE doc_id NOT IN (SELECT dst FROM fedges)
    UNION
    SELECT e.dst, w.depth + 1 FROM walk w JOIN fedges e ON e.src = w.node
    WHERE w.depth < 64
  )
  SELECT node AS doc_id, CAST(max(depth) AS BIGINT) AS layer
  FROM walk GROUP BY node
),
planted2 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 4 > 0 THEN
           array_to_string(list_transform(range(0, (doc_id % 4)::INT), j ->
             CASE WHEN j % 2 = 0
               THEN 'import mod_' || ((doc_id * 31 + j * 17) % 40)::VARCHAR
               ELSE 'from mod_' || ((doc_id * 31 + j * 17) % 40)::VARCHAR
                    || ' import helper'
             END), chr(10)) || chr(10) || coalesce(text, '')
         ELSE text END AS text
  FROM documents
)
SELECT p.source AS source,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(length(string_agg(coalesce(p.text, ''), chr(10)||chr(10)
                              ORDER BY t.layer, p.doc_id)) AS BIGINT) AS n_chars,
       sha256(string_agg(coalesce(p.text, ''), chr(10)||chr(10)
                         ORDER BY t.layer, p.doc_id)) AS context_sha256
FROM planted2 p
JOIN topo t USING (doc_id)
GROUP BY p.source
"""


def _q_fork_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fork-family collapse over the same planted-fork corpus as
    `fork_pairs`: pair mining -> large-star/small-star closure -> one
    winner per cluster (most distinct file contents, name-asc tiebreak).
    Every post-pairing table is O(#repos); the oracle re-derives the
    closure with a recursive CTE and the winner with the same window."""
    from language_identification_spark.operators.repolevel import collapse_forks

    docs = _docs(spark, sf_dir)
    forked = docs.filter(
        (F.col("doc_id") % 3 == 0)
        & F.col("source").isin("src0", "src1", "src2", "src3")
    ).withColumn("source", F.concat(F.lit("fork_"), F.col("source")))
    corpus = docs.select("source", "text").unionByName(
        forked.select("source", "text")
    )
    return collapse_forks(corpus, min_jaccard_milli=150)


_SQL_FORK_COLLAPSE = """
WITH RECURSIVE corpus AS (
  SELECT source AS repo, coalesce(text, '') AS t FROM documents
  UNION ALL
  SELECT 'fork_' || source, coalesce(text, '') FROM documents
  WHERE doc_id % 3 = 0 AND source IN ('src0', 'src1', 'src2', 'src3')
),
files AS MATERIALIZED (SELECT DISTINCT repo, sha256(t) AS h FROM corpus),
sizes AS MATERIALIZED (SELECT repo, count(*) AS n FROM files GROUP BY repo),
eligible AS (SELECT h FROM files GROUP BY h HAVING count(*) <= 64),
posting AS MATERIALIZED (SELECT f.repo, f.h FROM files f JOIN eligible e USING (h)),
shared AS (
  SELECT a.repo AS repo_a, b.repo AS repo_b, count(*) AS n_shared
  FROM posting a JOIN posting b ON a.h = b.h AND a.repo < b.repo
  GROUP BY 1, 2
),
pairs AS MATERIALIZED (
  SELECT repo_a, repo_b
  FROM shared
  JOIN sizes sa ON sa.repo = shared.repo_a
  JOIN sizes sb ON sb.repo = shared.repo_b
  WHERE (1000 * n_shared) // (sa.n + sb.n - n_shared) >= 150
),
edges AS (
  SELECT repo_a AS src, repo_b AS dst FROM pairs
  UNION ALL
  SELECT repo_b, repo_a FROM pairs
),
reach(node, r) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
),
comp AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
members AS (
  SELECT c.node, c.comp, s.n AS n_files
  FROM comp c JOIN sizes s ON s.repo = c.node
),
rep AS (
  SELECT comp, node AS rep_repo FROM (
    SELECT comp, node,
           row_number() OVER (PARTITION BY comp
                              ORDER BY n_files DESC, node ASC) AS rn
    FROM members
  ) WHERE rn = 1
)
SELECT s.repo AS repo,
       coalesce(r.rep_repo, s.repo) AS rep_repo,
       CAST(s.n AS BIGINT) AS n_files,
       (coalesce(r.rep_repo, s.repo) = s.repo) AS is_rep
FROM sizes s
LEFT JOIN comp c ON c.node = s.repo
LEFT JOIN rep r ON r.comp = c.comp
"""


def _q_topo_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dependency-ordered corpus layering: file-level import edges (module
    mod_K is *defined by* the lowest doc_id with doc_id%40==K, imported by
    the planted headers; cycles broken by the src<dst id-order tiebreak so
    the graph is a DAG by construction), then Kahn layering — layer =
    longest path from any root, exact integers, bit-identical across
    engines.  Emitting files in (layer, doc_id) order gives
    definitions-before-uses repo-context concatenation."""
    from language_identification_spark.operators.graph import (
        extract_imports,
        topo_layers,
    )

    docs = _plant_imports(_docs(spark, sf_dir))
    imports = extract_imports(docs).withColumn(
        "k", F.substring(F.col("module"), 5, 10).cast("long")
    )
    fowners = docs.groupBy(F.pmod(F.col("doc_id"), F.lit(40)).alias("k")).agg(
        F.min("doc_id").alias("owner")
    )
    fedges = (
        imports.join(fowners, "k")
        .filter(F.col("owner") < F.col("doc_id"))
        .select(F.col("owner").alias("src"), F.col("doc_id").alias("dst"))
        .distinct()
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    out = topo_layers(nodes, fedges)
    return out.select(F.col("node").alias("doc_id"), "layer")


def _sql_topo_order() -> str:
    # longest path from any root via a depth-bounded recursive walk with
    # UNION dedup; on the DAG-by-construction planted edges this equals the
    # operator's Kahn layering exactly (cycle handling is pytest-covered)
    return """
WITH RECURSIVE planted AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN doc_id % 4 > 0 THEN
           array_to_string(list_transform(range(0, (doc_id % 4)::INT), j ->
             CASE WHEN j % 2 = 0
               THEN 'import mod_' || ((doc_id * 31 + j * 17) % 40)::VARCHAR
               ELSE 'from mod_' || ((doc_id * 31 + j * 17) % 40)::VARCHAR
                    || ' import helper'
             END), chr(10)) || chr(10) || coalesce(text, '')
         ELSE text END AS text
  FROM documents
),
imports AS MATERIALIZED (
  SELECT DISTINCT doc_id, m AS module
  FROM planted,
       LATERAL unnest(regexp_extract_all(
         substr(coalesce(text, ''), 1, 2048),
         '(?m)^(?:import|from)[ ]+([A-Za-z_][A-Za-z0-9_.]*)', 1)) AS t(m)
),
fowners AS MATERIALIZED (
  SELECT doc_id % 40 AS k, min(doc_id) AS owner FROM documents GROUP BY 1
),
fedges AS MATERIALIZED (
  SELECT DISTINCT o.owner AS src, i.doc_id AS dst
  FROM imports i
  JOIN fowners o ON o.k = CAST(substr(i.module, 5) AS BIGINT)
  WHERE o.owner < i.doc_id
),
walk AS (
  SELECT doc_id AS node, 0 AS depth FROM documents
  WHERE doc_id NOT IN (SELECT dst FROM fedges)
  UNION
  SELECT e.dst, w.depth + 1 FROM walk w JOIN fedges e ON e.src = w.node
  WHERE w.depth < 64
)
SELECT node AS doc_id, CAST(max(depth) AS BIGINT) AS layer
FROM walk GROUP BY node
"""


def _q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-norm profile + exact integer z-score outliers."""
    from language_identification_spark.operators.embstats import norm_outliers

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return norm_outliers(emb)


_SQL_EMBEDDING_OUTLIERS = """
WITH r AS MATERIALIZED (
  SELECT vec_id, label,
         CAST(round(round(sqrt(list_sum(list_transform(embedding::DOUBLE[],
              x -> x * x))), 6) * 1000000) AS BIGINT) AS norm_micro
  FROM embeddings
),
s AS (
  SELECT label,
         CAST(count(*) AS HUGEINT) AS n_g,
         CAST(sum(norm_micro) AS HUGEINT) AS sum_g,
         sum(CAST(norm_micro AS HUGEINT) * CAST(norm_micro AS HUGEINT)) AS sum2_g
  FROM r GROUP BY label
)
SELECT vec_id, r.label AS label, norm_micro,
       CAST(n_g AS BIGINT) AS n_label,
       CAST(sum_g // n_g AS BIGINT) AS mean_micro,
       ((n_g * CAST(norm_micro AS HUGEINT) - sum_g)
        * (n_g * CAST(norm_micro AS HUGEINT) - sum_g)
        > 9 * (n_g * sum2_g - sum_g * sum_g)) AS is_outlier
FROM r JOIN s USING (label)
"""


def _q_repo_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mega-repo downweighting: keep at most 10 files per repo, selected
    by smallest sha256("quota|<doc_id>") digest (engine-portable — the
    same digest ordering DuckDB recomputes; doc_id tiebreak).  The rank
    runs on an ids-only projection and the kept-key table is bounded at
    quota x #repos by construction, so the semi-join back to the corpus
    broadcasts at any corpus size."""
    from language_identification_spark.operators.repolevel import quota_cap

    docs = _docs(spark, sf_dir)
    return quota_cap(
        docs, group_col="source", key_col="doc_id", quota=10, salt="quota"
    ).select("source", F.col("doc_id").cast("long").alias("doc_id"))


_SQL_REPO_QUOTA_CAP = """
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY sha256('quota|' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
)
SELECT source, CAST(doc_id AS BIGINT) AS doc_id FROM ranked WHERE rn <= 10
"""


def _q_collapse_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition removal: collapse runs of identical
    consecutive lines to their first line — row-local higher-order
    functions only (split, shift-zip, filter, rejoin, sha256), zero
    Exchange, zero UDF.  Publishes the rewritten text's sha256 so the
    oracle verifies the exact rewrite without hauling text through the
    compare."""
    from language_identification_spark.operators.linededup import collapse_runs

    docs = _docs(spark, sf_dir)
    return collapse_runs(docs)


_SQL_COLLAPSE_RUNS = """
WITH src AS MATERIALIZED (
  SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS lines
  FROM documents
),
pos AS (
  SELECT doc_id, z.i AS pos, lines[z.i] AS line,
         CASE WHEN z.i = 1 THEN NULL ELSE lines[z.i - 1] END AS prev
  FROM src, unnest(generate_series(1, len(lines))) AS z(i)
),
flag AS (
  SELECT doc_id, pos, line, (prev IS NULL OR line != prev) AS keep
  FROM pos
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       sha256(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                                  ORDER BY pos), '')) AS collapsed_sha256
FROM flag
GROUP BY doc_id
"""


def _plant_block_comments(docs: DataFrame) -> DataFrame:
    """Prepend a two-line ``/* ... */`` banner on every 7th document so the
    comment stripper's block pass (incl. multi-line ``(?s)`` matching) is
    exercised; composed with ``_plant_code_snippets`` (which plants ``#`` /
    ``//`` line comments) for the strip_comments oracle."""
    banner = F.concat(
        F.lit("/* banner "),
        F.col("doc_id").cast("string"),
        F.lit("\n   generated */\n"),
    )
    planted = F.when(
        F.pmod(F.col("doc_id"), F.lit(7)) == 0,
        F.concat(banner, F.coalesce(F.col("text"), F.lit(""))),
    ).otherwise(F.col("text"))
    return docs.withColumn("text", planted)


def _q_strip_comments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comment-stripping normalization census: block ``/* */`` removal +
    full-line ``#`` / ``//`` drop as a row-local Catalyst rewrite, verified
    by the rewritten text's sha256 (exact-rewrite check without hauling
    text through the compare — the ``collapse_runs`` contract)."""
    from language_identification_spark.operators.codestats import strip_comments

    docs = _plant_block_comments(_plant_code_snippets(_docs(spark, sf_dir)))
    return strip_comments(docs)


def _sql_strip_comments() -> str:
    from language_identification_spark.operators.codestats import COMMENT_RE

    return (
        "\nWITH "
        + _sql_code_planted()
        + """,
planted2 AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN
           '/* banner ' || doc_id::VARCHAR || chr(10) || '   generated */'
             || chr(10) || coalesce(text, '')
         ELSE text END AS text
  FROM planted
),
src AS MATERIALIZED (
  SELECT doc_id, coalesce(text, '') AS raw,
         regexp_replace(coalesce(text, ''), '/\\*.*?\\*/', '', 'gs') AS t
  FROM planted2
),
pos AS (
  SELECT s.doc_id, z.i AS pos, string_split(s.t, chr(10))[z.i] AS line
  FROM src s, unnest(generate_series(1, len(string_split(s.t, chr(10))))) AS z(i)
),
flag AS (
  SELECT doc_id, pos, line,
         NOT regexp_matches(line, '"""
        + COMMENT_RE
        + """') AS keep
  FROM pos
),
agg AS (
  SELECT doc_id,
         CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT)
           AS n_comment_lines_removed,
         coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                             ORDER BY pos), '') AS stripped
  FROM flag GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(len(string_split(s.raw, chr(10))) AS BIGINT) AS n_lines_in,
       CAST(length(s.raw) - length(s.t) AS BIGINT) AS n_block_chars_removed,
       a.n_comment_lines_removed,
       CAST(length(a.stripped) AS BIGINT) AS stripped_chars,
       sha256(a.stripped) AS stripped_sha256
FROM src s JOIN agg a USING (doc_id)
"""
    )


def _plant_comment_pii(docs: DataFrame) -> DataFrame:
    """Plant PII both INSIDE comment scope (must be scrubbed) and in plain
    code lines (must pass through untouched) so the comment-scoped scrub's
    scoping decision is actually exercised: every 3rd doc gets a plain-code
    email line, every 5th a ``#`` comment with email+IP, every 7th a
    multi-line ``/* */`` block with a secret assignment and an email."""
    sid = F.col("doc_id").cast("string")
    t0 = F.coalesce(F.col("text"), F.lit(""))
    t1 = F.when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 0,
        F.concat(
            t0, F.lit("\nplain email bob"), sid, F.lit("@example.com in code\n")
        ),
    ).otherwise(t0)
    t2 = F.when(
        F.pmod(F.col("doc_id"), F.lit(5)) == 0,
        F.concat(
            t1,
            F.lit("\n# contact admin"),
            sid,
            F.lit("@example.com at 10.0.0.1\n"),
        ),
    ).otherwise(t1)
    t3 = F.when(
        F.pmod(F.col("doc_id"), F.lit(7)) == 0,
        F.concat(
            F.lit("/* token = s3cretv"),
            sid,
            F.lit("\n   reach admin@corp.example */\n"),
            t2,
        ),
    ).otherwise(t2)
    return docs.withColumn("text", t3)


def _q_scrub_comments_scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comment-scoped PII scrub: the frozen scrub chain applied ONLY inside
    comment regions (full-line ``#``/``//`` comments + ``/* */`` blocks via
    a row-local clamped-depth fold over the line array), leaving executable
    text untouched.  Zero Exchange, one Arrow UDF (the scrub chain per
    scoped line); verified by the rewritten text's sha256."""
    from language_identification_spark.operators.commentscope import (
        scrub_comments_scoped,
    )

    return scrub_comments_scoped(_spread(_plant_comment_pii(_docs(spark, sf_dir))))


def _sql_scrub_comments_scoped() -> str:
    """DuckDB re-derivation: unnest lines, window cumulative ``/*``/``*/``
    deltas, clamp the running block depth at zero with the reflected-walk
    identity ``d(i) = cum(i) - min(0, min_{j<=i} cum(j))`` (an independent
    formulation of the operator's fold), then the ordered count+replace
    chain on scoped lines only."""
    from language_identification_spark.operators.codestats import COMMENT_RE
    from language_identification_spark.scrub.patterns import PATTERNS

    sql = """
WITH planted AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN
           '/* token = s3cretv' || doc_id::VARCHAR || chr(10)
             || '   reach admin@corp.example */' || chr(10)
         ELSE '' END
         || coalesce(text, '')
         || CASE WHEN doc_id % 3 = 0 THEN
              chr(10) || 'plain email bob' || doc_id::VARCHAR
                || '@example.com in code' || chr(10)
            ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN
              chr(10) || '# contact admin' || doc_id::VARCHAR
                || '@example.com at 10.0.0.1' || chr(10)
            ELSE '' END AS text
  FROM documents
),
pos AS (
  SELECT s.doc_id, z.i AS pos, string_split(s.text, chr(10))[z.i] AS line
  FROM planted s,
       unnest(generate_series(1, len(string_split(s.text, chr(10))))) AS z(i)
),
oc AS (
  SELECT doc_id, pos, line,
         len(string_split(line, '/*')) - 1 AS opens,
         len(string_split(line, '*/')) - 1 AS closes
  FROM pos
),
cum AS (
  SELECT *,
         sum(opens - closes) OVER
           (PARTITION BY doc_id ORDER BY pos) AS cum_incl
  FROM oc
),
depth AS (
  SELECT doc_id, pos, line, opens,
         coalesce(sum(opens - closes) OVER
             (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         - least(0, coalesce(min(cum_incl) OVER
             (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
           AS depth_before
  FROM cum
),
l0 AS (
  SELECT doc_id, pos, line AS l,
         (depth_before > 0 OR opens > 0
          OR regexp_matches(line, '"""
    sql += COMMENT_RE.replace("'", "''")
    sql += "')) AS scoped\n  FROM depth\n)"
    carried: list[str] = []
    prev = "l0"
    for i, (_name, pat, repl) in enumerate(PATTERNS, 1):
        p = pat.replace("'", "''")
        r = repl.replace("'", "''")
        keep = (", ".join(carried) + ", ") if carried else ""
        sql += (
            f", l{i} AS (SELECT doc_id, pos, scoped, {keep}"
            f"CASE WHEN scoped THEN len(regexp_extract_all(l, '{p}')) "
            f"ELSE 0 END AS c{i}, "
            f"CASE WHEN scoped THEN regexp_replace(l, '{p}', '{r}', 'g') "
            f"ELSE l END AS l FROM {prev})"
        )
        carried.append(f"c{i}")
        prev = f"l{i}"
    total = " + ".join(carried)
    sql += f"""
, agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(count(*) FILTER (WHERE scoped) AS BIGINT) AS n_scoped_lines,
         CAST(sum({total}) AS BIGINT) AS n_redactions,
         coalesce(string_agg(l, chr(10) ORDER BY pos), '') AS scrubbed
  FROM {prev} GROUP BY doc_id
)
SELECT doc_id, n_lines, n_scoped_lines, n_redactions,
       CAST(length(scrubbed) AS BIGINT) AS scrubbed_chars,
       sha256(scrubbed) AS scrubbed_sha256
FROM agg
"""
    return sql


def _q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher Table-A1 within-document repetition signals (dup-line /
    dup-paragraph fractions by count and by characters, top 2/3/4-gram
    char fractions) + the published-threshold keep verdict — row-local
    sort-and-fold higher-order functions, zero Exchange, zero UDF,
    integer-ppm engine-exact arithmetic."""
    from language_identification_spark.operators.repetition import (
        gopher_repetition,
    )

    return gopher_repetition(_spread(_docs(spark, sf_dir)))


def _sql_gopher_repetition() -> str:
    # independent derivation: UNNEST + GROUP BY occurrence counting (the
    # Spark side is a sort-adjacency fold); duplicates = occurrences after
    # the first, top gram = max (count, length) with integer // ppm
    grams, tops, top_cols, top_keeps = [], [], [], []
    thresholds = {2: 200_000, 3: 180_000, 4: 160_000}
    for n in (2, 3, 4):
        grams.append(f"""
grams{n} AS (
  SELECT w.doc_id, array_to_string(w.ws[g.i : g.i + {n - 1}], ' ') AS g
  FROM words w, unnest(generate_series(1, len(w.ws) - {n} + 1)) AS g(i)
  WHERE len(w.ws) >= {n}
),
top{n} AS (
  SELECT doc_id, CAST(c * length(g) AS BIGINT) AS chars
  FROM (SELECT doc_id, g, count(*) AS c,
               row_number() OVER (
                 PARTITION BY doc_id
                 ORDER BY count(*) DESC, length(g) DESC, g) AS rn
        FROM grams{n} GROUP BY doc_id, g)
  WHERE rn = 1
)""")
        tops.append(
            f"LEFT JOIN top{n} t{n} USING (doc_id)"
        )
        top_cols.append(
            f"CASE WHEN b.n_chars > 0 THEN (CAST(1000000 AS BIGINT)"
            f" * coalesce(t{n}.chars, 0)) // b.n_chars"
            f" ELSE 0 END AS top_{n}gram_char_ppm"
        )
        top_keeps.append(
            f"(CASE WHEN b.n_chars > 0 THEN (CAST(1000000 AS BIGINT)"
            f" * coalesce(t{n}.chars, 0)) // b.n_chars ELSE 0 END)"
            f" <= {thresholds[n]}"
        )
    part_stats = """
{name} AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c - 1) AS BIGINT) AS dup,
         CAST(sum((c - 1) * len) AS BIGINT) AS dupc
  FROM (SELECT doc_id, part, count(*) AS c, length(part) AS len
        FROM {src} GROUP BY doc_id, part)
  GROUP BY doc_id
)"""
    ppm = (
        "CASE WHEN coalesce({den}, 0) > 0 THEN"
        " (CAST(1000000 AS BIGINT) * coalesce({num}, 0)) // {den}"
        " ELSE 0 END"
    )
    m = {
        "dup_line_ppm": ppm.format(num="ls.dup", den="ls.n"),
        "dup_line_char_ppm": ppm.format(num="ls.dupc", den="b.n_chars"),
        "dup_para_ppm": ppm.format(num="ps.dup", den="ps.n"),
        "dup_para_char_ppm": ppm.format(num="ps.dupc", den="b.n_chars"),
    }
    keep = " AND ".join(
        [
            f"({m['dup_line_ppm']}) <= 300000",
            f"({m['dup_para_ppm']}) <= 300000",
            f"({m['dup_line_char_ppm']}) <= 200000",
            f"({m['dup_para_char_ppm']}) <= 200000",
            *top_keeps,
        ]
    )
    top_col_block = ",\n       ".join(top_cols)
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, coalesce(text, '') AS text,
         CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars
  FROM documents
),
lines AS (
  SELECT b.doc_id, l.part
  FROM base b, unnest(string_split(b.text, chr(10))) AS l(part)
  WHERE trim(l.part) <> ''
),
paras AS (
  SELECT b.doc_id, p.part
  FROM base b, unnest(regexp_split_to_array(b.text, '\\n\\n+')) AS p(part)
  WHERE trim(p.part) <> ''
),
{part_stats.format(name="line_stats", src="lines")},
{part_stats.format(name="para_stats", src="paras")},
words AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS ws
  FROM base
),
{",".join(grams)}
SELECT b.doc_id,
       b.n_chars,
       {m["dup_line_ppm"]} AS dup_line_ppm,
       {m["dup_line_char_ppm"]} AS dup_line_char_ppm,
       {m["dup_para_ppm"]} AS dup_para_ppm,
       {m["dup_para_char_ppm"]} AS dup_para_char_ppm,
       {top_col_block},
       ({keep}) AS repetition_keep
FROM base b
LEFT JOIN line_stats ls USING (doc_id)
LEFT JOIN para_stats ps USING (doc_id)
{" ".join(tops)}
"""


def _q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher Table-A1 quality rules (word-count bounds, mean word length,
    symbol-to-word ratio, bullet/ellipsis line fractions, alpha-word
    fraction, required-stopword hits) + keep verdict — row-local F.*
    expressions, zero Exchange, zero UDF, integer milli/ppm arithmetic."""
    from language_identification_spark.operators.gopherquality import (
        gopher_quality,
    )

    return gopher_quality(_spread(_docs(spark, sf_dir)))


_SQL_GOPHER_QUALITY = """
WITH base AS MATERIALIZED (
  SELECT doc_id, coalesce(text, '') AS text FROM documents
),
words AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS ws
  FROM base
),
word_stats AS (
  SELECT w.doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(length(u.w)) AS BIGINT) AS total_chars,
         CAST(sum(CASE WHEN regexp_matches(u.w, '[A-Za-z]') THEN 1 ELSE 0 END)
              AS BIGINT) AS alpha_words,
         CAST(count(DISTINCT CASE WHEN lower(u.w) IN
                ('the','be','to','of','and','that','have','with')
              THEN lower(u.w) END) AS BIGINT) AS stop_hits
  FROM words w, unnest(w.ws) AS u(w)
  GROUP BY w.doc_id
),
line_stats AS (
  SELECT b.doc_id,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN substring(ltrim(l.part), 1, 1) IN ('•','-','*')
              THEN 1 ELSE 0 END) AS BIGINT) AS bullets,
         CAST(sum(CASE WHEN rtrim(l.part) LIKE '%...'
                         OR rtrim(l.part) LIKE '%…'
              THEN 1 ELSE 0 END) AS BIGINT) AS ellipses
  FROM base b, unnest(string_split(b.text, chr(10))) AS l(part)
  WHERE trim(l.part) <> ''
  GROUP BY b.doc_id
),
sym AS (
  SELECT doc_id,
         CAST((length(text) - length(replace(text, '#', '')))
            + (length(text) - length(replace(text, '…', '')))
            + (length(text) - length(replace(text, '...', ''))) // 3
              AS BIGINT) AS symbols
  FROM base
),
staged AS (
  SELECT b.doc_id,
         coalesce(ws.n_words, 0) AS n_words,
         coalesce(ls.n_lines, 0) AS n_lines,
         coalesce(ws.total_chars, 0) AS twc,
         coalesce(sy.symbols, 0) AS symbols,
         coalesce(ls.bullets, 0) AS bullets,
         coalesce(ls.ellipses, 0) AS ellipses,
         coalesce(ws.alpha_words, 0) AS alpha_words,
         coalesce(ws.stop_hits, 0) AS stopword_hits
  FROM base b
  LEFT JOIN word_stats ws USING (doc_id)
  LEFT JOIN line_stats ls USING (doc_id)
  LEFT JOIN sym sy USING (doc_id)
)
SELECT doc_id, n_words, n_lines,
       CASE WHEN n_words > 0 THEN (1000 * twc) // n_words
            ELSE 0 END AS mean_word_len_milli,
       CASE WHEN n_words > 0 THEN (1000000 * symbols) // n_words
            ELSE 0 END AS symbol_word_ppm,
       CASE WHEN n_lines > 0 THEN (1000000 * bullets) // n_lines
            ELSE 0 END AS bullet_line_ppm,
       CASE WHEN n_lines > 0 THEN (1000000 * ellipses) // n_lines
            ELSE 0 END AS ellipsis_line_ppm,
       CASE WHEN n_words > 0 THEN (1000000 * alpha_words) // n_words
            ELSE 0 END AS alpha_word_ppm,
       stopword_hits,
       (n_words BETWEEN 50 AND 100000
        AND (CASE WHEN n_words > 0 THEN (1000 * twc) // n_words ELSE 0 END)
            BETWEEN 3000 AND 10000
        AND (CASE WHEN n_words > 0 THEN (1000000 * symbols) // n_words
             ELSE 0 END) <= 100000
        AND (CASE WHEN n_lines > 0 THEN (1000000 * bullets) // n_lines
             ELSE 0 END) <= 900000
        AND (CASE WHEN n_lines > 0 THEN (1000000 * ellipses) // n_lines
             ELSE 0 END) <= 300000
        AND (CASE WHEN n_words > 0 THEN (1000000 * alpha_words) // n_words
             ELSE 0 END) >= 800000
        AND stopword_hits >= 2) AS quality_keep
FROM staged
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "lang_canon": _q_lang_canon,
        "sessionize_events": _q_sessionize,
        "sessionize_events_stream": _q_sessionize_stream,
        "heuristic_flags": _q_heuristic_flags,
        "token_stats": _q_token_stats,
        "fingerprint": _q_fingerprint,
        "winnow_fingerprints": _q_winnow,
        "winnow_dup_pairs": _q_winnow_pairs,
        "exact_dedup": _q_exact_dedup,
        "ordered_agg": _q_ordered_agg,
        "broadcast_enrich": _q_broadcast_enrich,
        "anti_join_resume": _q_anti_join_resume,
        "quality_scores": _q_quality_scores,
        "cosine_topk": _q_cosine_topk,
        "jaccard_verify_pairs": _q_jaccard_verify,
        "lsh_topk": _q_lsh_topk,
        "ivf_topk": _q_ivf_topk,
        "ivf_topk_trained": _q_ivf_topk_trained,
        "ivf_topk_indexed": _q_ivf_topk_indexed,
        "lsh_topk_indexed": _q_lsh_topk_indexed,
        "wav_convert_props": _q_wav_convert,
        "cosine_dup_pairs": _q_cosine_dup_pairs,
        "semantic_dedup": _q_semantic_dedup,
        "scrub_documents": _q_scrub,
        "langid_documents": _q_langid,
        "minhash_jaccard_pairs": _q_minhash_pairs,
        "dedup_components": _q_dedup_components,
        "dedup_representatives": _q_dedup_representatives,
        "simhash_buckets": _q_simhash,
        "simhash_dup_pairs": _q_simhash_pairs,
        "quality_filter_full": _q_quality_filter,
        "langid_line_spans": _q_line_spans,
        "stratified_sample": _q_stratified_sample,
        "decontaminate": _q_decontaminate,
        "bm25_topk": _q_bm25_topk,
        "range_pruned_scan": _q_range_pruned_scan,
        "dedup_lines": _q_dedup_lines,
        "mask_repeated_spans": _q_mask_repeated_spans,
        "langid_train_counts": _q_langid_train_counts,
        "bigram_lm_counts": _q_bigram_lm_counts,
        "threshold_sweep": _q_threshold_sweep,
        "corpus_profile": _q_corpus_profile,
        "pack_sequences": _q_pack_sequences,
        "packed_sequences": _q_packed_sequences,
        "mixture_plan": _q_mixture_plan,
        "epoch_upsample": _q_epoch_upsample,
        "fim_transform": _q_fim_transform,
        "repo_rollup": _q_repo_rollup,
        "skew_profile": _q_skew_profile,
        "column_profile": _q_column_profile,
        "salted_join": _q_salted_join,
        "validate_expectations": _q_validate_expectations,
        "dup_weighted_docs": _q_dup_weights,
        "vocab_topk": _q_vocab_topk,
        "bpe_merges": _q_bpe_merges,
        "bpe_vocab": _q_bpe_vocab,
        "bpe_encode_docs": _q_bpe_encode,
        "import_edges": _q_import_edges,
        "repo_pagerank": _q_repo_pagerank,
        "rank_weighted_docs": _q_rank_weighted_docs,
        "incremental_dedup_pairs": _q_incremental_dedup,
        "code_symbols": _q_code_symbols,
        "code_metrics": _q_code_metrics,
        "quantize_embeddings": _q_quantize_embeddings,
        "license_detect": _q_license_detect,
        "license_repo_rollup": _q_license_repo_rollup,
        "shuffle_order": _q_shuffle_order,
        "chunk_documents": _q_chunk_documents,
        "quality_lr_predict": _q_quality_lr_predict,
        "scrub_audit": _q_scrub_audit,
        "entropy_secrets": _q_entropy_secrets,
        "snapshot_diff": _q_snapshot_diff,
        "fork_pairs": _q_fork_pairs,
        "fork_collapse": _q_fork_collapse,
        "repo_context": _q_repo_context,
        "embedding_outliers": _q_embedding_outliers,
        "topo_order": _q_topo_order,
        "repo_quota_cap": _q_repo_quota_cap,
        "collapse_runs": _q_collapse_runs,
        "gopher_repetition": _q_gopher_repetition,
        "gopher_quality": _q_gopher_quality,
        "strip_comments": _q_strip_comments,
        "scrub_comments_scoped": _q_scrub_comments_scoped,
        "leakage_safe_split": _q_leakage_split,
        "pq_encode": _q_pq_encode,
        "pq_topk_trained": _q_pq_topk,
    }


def oracle_sql() -> dict[str, str]:
    out = {
        "lang_canon": _SQL_LANG_CANON,
        "sessionize_events": _SQL_SESSIONIZE,
        "sessionize_events_stream": _SQL_SESSIONIZE_STREAM,
        "heuristic_flags": _SQL_HEURISTIC_FLAGS,
        "token_stats": _SQL_TOKEN_STATS,
        "fingerprint": _SQL_FINGERPRINT,
        "winnow_fingerprints": _sql_winnow(),
        "winnow_dup_pairs": _sql_winnow_pairs(),
        "exact_dedup": _SQL_EXACT_DEDUP,
        "ordered_agg": _SQL_ORDERED_AGG,
        "broadcast_enrich": _SQL_BROADCAST_ENRICH,
        "anti_join_resume": _SQL_ANTI_JOIN_RESUME,
        "quality_scores": _SQL_QUALITY_SCORES,
        "cosine_topk": _sql_cosine_topk(),
        "jaccard_verify_pairs": _SQL_JACCARD_VERIFY,
        "lsh_topk": _sql_lsh_topk(),
        "ivf_topk": _sql_ivf_topk(),
        "ivf_topk_trained": _sql_ivf_topk_trained(),
        "ivf_topk_indexed": _sql_ivf_topk(),
        "lsh_topk_indexed": _sql_lsh_topk(),
        "wav_convert_props": _SQL_WAV_CONVERT,
        "cosine_dup_pairs": _sql_cosine_dup_pairs(),
        "semantic_dedup": _sql_semantic_dedup(),
        "scrub_documents": _sql_scrub(),
        "langid_documents": _sql_langid(),
        "simhash_buckets": _sql_simhash(),
        "simhash_dup_pairs": _sql_simhash_pairs(),
        "langid_line_spans": _sql_line_spans(),
        "quality_filter_full": _sql_quality_filter(),
        "minhash_jaccard_pairs": _sql_minhash_pairs(),
        "dedup_components": _sql_dedup_components(),
        "dedup_representatives": _sql_dedup_representatives(),
        "stratified_sample": _SQL_STRATIFIED_SAMPLE,
        "decontaminate": _SQL_DECONTAMINATE,
        "bm25_topk": _SQL_BM25_TOPK,
        "range_pruned_scan": _SQL_RANGE_PRUNED_SCAN,
        "dedup_lines": _SQL_DEDUP_LINES,
        "mask_repeated_spans": _SQL_MASK_REPEATED_SPANS,
        "langid_train_counts": _sql_langid_train_counts(),
        "bigram_lm_counts": _sql_bigram_lm_counts(),
        "threshold_sweep": _sql_threshold_sweep(),
        "corpus_profile": _SQL_CORPUS_PROFILE,
        "pack_sequences": _SQL_PACK_SEQUENCES,
        "packed_sequences": _SQL_PACKED_SEQUENCES,
        "mixture_plan": _SQL_MIXTURE_PLAN,
        "epoch_upsample": _SQL_EPOCH_UPSAMPLE,
        "fim_transform": _SQL_FIM_TRANSFORM,
        "repo_rollup": _SQL_REPO_ROLLUP,
        "skew_profile": _SQL_SKEW_PROFILE,
        "column_profile": _sql_column_profile(),
        "salted_join": _SQL_SALTED_JOIN,
        "validate_expectations": _SQL_VALIDATE,
        "dup_weighted_docs": _sql_dup_weights(),
        "vocab_topk": _SQL_VOCAB_TOPK,
        "bpe_merges": _sql_bpe_merges(),
        "bpe_vocab": _sql_bpe_vocab(),
        "bpe_encode_docs": _sql_bpe_encode(),
        "import_edges": _sql_import_edges(),
        "repo_pagerank": _sql_repo_pagerank(),
        "rank_weighted_docs": _sql_rank_weighted_docs(),
        "incremental_dedup_pairs": _sql_minhash_pairs(
            "AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)"
        ),
        "code_symbols": _sql_code_symbols(),
        "code_metrics": _sql_code_metrics(),
        "quantize_embeddings": _SQL_QUANTIZE_EMBEDDINGS,
        "license_detect": _sql_license_detect(),
        "license_repo_rollup": _sql_license_repo_rollup(),
        "shuffle_order": _SQL_SHUFFLE_ORDER,
        "chunk_documents": _SQL_CHUNK_DOCUMENTS,
        "quality_lr_predict": _sql_quality_lr_predict(),
        "scrub_audit": _sql_scrub_audit(),
        "entropy_secrets": _sql_entropy_secrets(),
        "snapshot_diff": _SQL_SNAPSHOT_DIFF,
        "fork_pairs": _SQL_FORK_PAIRS,
        "fork_collapse": _SQL_FORK_COLLAPSE,
        "repo_context": _SQL_REPO_CONTEXT,
        "embedding_outliers": _SQL_EMBEDDING_OUTLIERS,
        "topo_order": _sql_topo_order(),
        "repo_quota_cap": _SQL_REPO_QUOTA_CAP,
        "collapse_runs": _SQL_COLLAPSE_RUNS,
        "gopher_repetition": _sql_gopher_repetition(),
        "gopher_quality": _SQL_GOPHER_QUALITY,
        "strip_comments": _sql_strip_comments(),
        "scrub_comments_scoped": _sql_scrub_comments_scoped(),
        "leakage_safe_split": _sql_leakage_split(),
        "pq_encode": _sql_pq_encode(),
        "pq_topk_trained": _sql_pq_topk(),
    }
    # a data-dependent oracle generator may return None (source table
    # unreadable on this host) — omit the entry rather than ship a broken
    # SQL string; the driver then records its weaker rows-only check
    return {k: v for k, v in out.items() if v is not None}
