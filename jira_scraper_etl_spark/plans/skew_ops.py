"""Skew-aware join queries: the registered exercise of operators/skew.py.

The ``events`` table is the natural skew case: a handful of event_type
values cover the whole table (Zipf-ish — 'click' dominates), so an
equi-join keyed on event_type puts the hot type's entire row mass in
one shuffle partition. ``salted_join`` sprays the big side across S
sub-keys and replicates the small side S×, bounding any partition at
~1/S of the hot key. AQE's skew-join handles the SortMergeJoin case at
runtime; the salted form is the planner-independent fallback that also
covers stream-static joins and broadcast-ineligible build sides (see
operators/skew.py). Result rows are identical to the plain join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_events, load_table
from ..functions import hashing as H
from ..operators.skew import hotkey_salted_join, salted_join
from .llm_ops import SQL_TOKS
from .registry import register, davg, o_davg


@register(
    "join_skewed_events_by_type",
    oracle=f"""
    WITH dim AS (
        SELECT event_type, {o_davg("value", "type_avg")}
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value, d.type_avg,
           e.value - d.type_avg AS value_dev
    FROM events e JOIN dim d ON e.event_type = d.event_type
    """,
    tags=("join", "skew"),
)
def join_skewed_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key enrichment join, salted: every event joins its per-type
    aggregate (avg value) back onto the fact. event_type has ~5 distinct
    values over the whole table — the textbook skewed key — so the big
    side is sprayed over 8 salts and the tiny dim is replicated 8×; the
    hot type's shuffle partition shrinks 8× while output rows stay
    identical to the unsalted join. Dim aggregation is one map-side-
    combined shuffle on event_type (exact decimal avg for cross-engine
    parity); the salted join shuffles on (event_type, _salt).
    """
    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    dim = ev.groupBy("event_type").agg(davg("value", "type_avg"))
    out = salted_join(ev, dim, "event_type", salt=8)
    return out.select(
        "event_id", "event_type", "value", "type_avg",
        (F.col("value") - F.col("type_avg")).alias("value_dev"),
    )

@register(
    "join_skewed_peers_1h",
    oracle="""
    SELECT a.event_id, a.event_type,
           CAST(COUNT(b.peer_id) AS BIGINT) AS n_recent_peers,
           MAX(b.peer_value) AS max_peer_value
    FROM events a LEFT JOIN
         (SELECT event_id AS peer_id, event_type AS peer_type,
                 ts AS peer_ts, value AS peer_value FROM events) b
      ON b.peer_type = a.event_type
     AND b.peer_id <> a.event_id
     AND b.peer_ts BETWEEN a.ts - INTERVAL 1 HOUR AND a.ts
    GROUP BY a.event_id, a.event_type
    """,
    tags=("join", "skew", "band"),
)
def join_skewed_peers_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-hour peer load: for every event, the count and
    max value of OTHER same-type events in the preceding hour — the
    big×big band join that neither broadcast nor a window rescues at
    scale.

    Why this shape matters: the semantics are exactly a
    ``RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW`` window
    partitioned by event_type — but that window funnels each type's
    ENTIRE row mass through one task (5 types ⇒ 5 busy cores at any
    cluster size; the hot partition holds 20% of a 100 TB table).

    The join key is the fix, not salting (round-14, guide §2.5/§3).
    The round-13 form salted the 5-value event_type key — which spreads
    the SORT but not the WORK: a sort-merge join's equi-key was still
    (type, salt), so every probe row was merged against its type's
    whole history and the band predicate ran as a residual filter —
    O(n²/|types|) pairs EXAMINED at any salt width (measured: sf0.1
    0.45 s, sf1 >14 min — quadratic, the round-13 sweep abort; the
    time-jittered sf1 regen did not help, proving the cost was pair
    examination, not pair volume). A 1-hour band predicate admits only
    peers in the probe's or the previous wall-clock hour, so the hour
    bucket BELONGS IN THE EQUI-KEY: key both sides on (event_type,
    date_trunc(hour)), replicate each peer row into its own and the
    NEXT hour's bucket (every band window spans at most 2 buckets), and
    keep the exact band as the residual. Pairs examined collapse to
    Σ_bucket |probe|·|peers in 2 buckets| — linear in rows × hourly
    density (sf1: 14 min → ~2 s). Bucket count grows with the time
    span, so the shuffle is skew-free without salt at any corpus size
    (a genuinely hot hour×type bucket is what AQE skew-split handles —
    it's a plain equi-SMJ now). Left join stays row-correct: the two
    peer replicas carry DISTINCT bucket values, so a probe row matches
    a given peer row at most once.

    Cross-engine determinism: COUNT is exact; MAX over doubles involves
    no accumulation order; ties are irrelevant to both.
    """
    ev = load_events(spark, sf_dir)
    hb = F.date_trunc("hour", F.col("ts"))
    a = ev.select("event_id", "event_type", "ts").withColumn("hb", hb)
    phb = F.date_trunc("hour", F.col("peer_ts"))
    # both sides are the full events table: the merge hint pins the
    # shuffle join a 100 TB peer side gets (at test scale the planner
    # would broadcast it instead)
    b = (ev.select(F.col("event_id").alias("peer_id"),
                   F.col("event_type").alias("peer_type"),
                   F.col("ts").alias("peer_ts"),
                   F.col("value").alias("peer_value"))
         .withColumn("phb", F.explode(F.array(
             phb, phb + F.expr("INTERVAL 1 HOUR"))))
         .hint("merge"))
    joined = a.join(
        b,
        (b["peer_type"] == a["event_type"]) & (b["phb"] == a["hb"])
        & (b["peer_id"] != a["event_id"])
        & (b["peer_ts"] >= a["ts"] - F.expr("INTERVAL 1 HOUR"))
        & (b["peer_ts"] <= a["ts"]),
        "left")
    return joined.groupBy("event_id", "event_type").agg(
        F.count("peer_id").cast("long").alias("n_recent_peers"),
        F.max("peer_value").alias("max_peer_value"),
    )

@register(
    "join_hotkey_isolated_lang",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang,
                      CAST(len({SQL_TOKS}) AS INTEGER) AS n_tokens
               FROM documents WHERE text IS NOT NULL),
    dim AS (SELECT lang,
                   CAST(CAST(SUM(n_tokens) AS BIGINT) AS DOUBLE) / COUNT(*)
                     AS lang_avg_tokens
            FROM t GROUP BY lang)
    SELECT t.doc_id, t.lang, t.n_tokens, dim.lang_avg_tokens,
           t.n_tokens / dim.lang_avg_tokens AS rel_len
    FROM t JOIN dim USING (lang)
    """,
    tags=("join", "skew"),
)
def join_hotkey_isolated_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc relative length vs its language's corpus average — the
    HOT-KEY-ISOLATED salted join (operators/skew.hotkey_salted_join).

    The documents table's lang key is the realistic skew profile: one
    dominant value ('en', ~41% of rows) over a cold tail (~15% each).
    Uniform salting would replicate the whole dim for every key; the
    isolated form measures the key histogram first (one map-side-
    combined count agg), broadcasts the tiny hot set ('en' alone at
    hot_fraction=0.25), sprays only hot-key rows over 8 salts with only
    the dim's hot rows replicated, and lets the cold tail flow through
    a plain equi-join. Union is row-identical to the plain join. At
    100 TB the count agg costs one scan of the key column (or comes
    free from table stats) and replication is bounded by the hot rows
    alone — independent of dim size.

    Numeric determinism: integer token counts; the lang average is
    exact-int sum / count in one fixed double division on both engines.
    """
    d = (load_table(spark, sf_dir, "documents")
         .where(F.col("text").isNotNull())
         .select("doc_id", "lang",
                 F.size(H.word_tokens(F.col("text"))).alias("n_tokens")))
    dim = d.groupBy("lang").agg(
        (F.sum("n_tokens").cast("long") / F.count(F.lit(1)))
        .alias("lang_avg_tokens"))
    out = hotkey_salted_join(d, dim, "lang", salt=8, hot_fraction=0.25)
    return out.select(
        "doc_id", "lang", "n_tokens", "lang_avg_tokens",
        (F.col("n_tokens") / F.col("lang_avg_tokens")).alias("rel_len"),
    )
