"""Windowed GNN embedding layer — the reference's A8
"SessionWindowedGNNEmbeddingLayer" (SURVEY.md §2A: coalesce per-vertex
recomputations inside a time window, dedupe redundant updates, run the NN
once per window on a batched tensor — its headline throughput lever).

Spark-first: the *plan is the same in batch and streaming* — a windowed
neighbor aggregation (one hash aggregate keyed on (window, dst vertex):
the window coalesces every edge arrival for a vertex into one row = the
reference's dedup) followed by one Arrow-batched numpy forward (Arrow
batches = the reference's tensor batching). Under Structured Streaming the
aggregation runs incrementally in the state store per micro-batch; the
batch query below and the streamed replay are asserted equal in
tests/test_streaming_gnn.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_gnn_spark.graph.edges import EMB_MOD, derive_edges
from flink_streaming_gnn_spark.graph.sage import (
    DIM,
    OUT_DIM,
    neighbor_mean,
    sage_forward,
    sage_weights,
)
from flink_streaming_gnn_spark.sources.tables import load_table


def edges_v_with_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge events in embedding-vertex space with event time (reference A1:
    each lineitem row is one timestamped edge arrival)."""
    return derive_edges(spark, sf_dir).select(
        F.pmod("src", F.lit(EMB_MOD)).cast("long").alias("src_v"),
        F.pmod("dst", F.lit(EMB_MOD)).cast("long").alias("dst_v"),
        "ts",
    )


def windowed_sage(edges: DataFrame, features: DataFrame) -> DataFrame:
    """Per-(calendar-year window, vertex) SAGE forward. ``edges`` may be a
    batch or streaming DataFrame with (src_v, dst_v, ts); ``features`` is
    the static (vec_id, feat) table, broadcast into the stream.

    Stage 1 — windowed coalescing aggregate: every arrival for a vertex in
    a window collapses into one 64-dim running mean (the A8 dedup); one
    shuffle on (window, dst_v). Stage 2 — batched forward: one pandas UDF
    call per Arrow batch of coalesced vertices (the A8 batched tensor op).
    Both stages are the batch SAGE layer's, with the window as a group key.
    """
    w_self, w_agg = sage_weights()
    agg = neighbor_mean(edges, features, DIM, F.year("ts").alias("yr"))
    h = sage_forward(features, agg, w_self, w_agg, F.col("yr").cast("long").alias("yr"))
    return h.select(
        "yr",
        "vec_id",
        *[F.round(F.element_at("h", i), 4).alias(f"h{i}") for i in range(1, OUT_DIM + 1)],
    )


def graph_sage_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch evaluation of the windowed forward (the streamed replay of the
    identical plan is asserted equal in tests)."""
    features = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("feat")
    )
    return windowed_sage(edges_v_with_ts(spark, sf_dir), features)


def _windowed_oracle_sql() -> str:
    w_self, w_agg = sage_weights()

    def vec(row) -> str:
        return "[" + ", ".join(repr(float(x)) for x in row) + "]"

    h_cols = ",\n               ".join(
        "round(greatest(0.0,"
        f" list_dot_product(CAST(v.embedding AS DOUBLE[]), {vec(w_self[i])})"
        f" + list_dot_product(a.aggv, {vec(w_agg[i])})), 4) AS h{i + 1}"
        for i in range(OUT_DIM)
    )
    return f"""
        WITH edges_t AS (
            SELECT o_custkey % {EMB_MOD} AS src_v, l_suppkey % {EMB_MOD} AS dst_v,
                   l_shipdate AS ts
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        per_pos AS (
            SELECT year(e.ts) AS yr, e.dst_v, p.pos,
                   avg(CAST(em.embedding[p.pos] AS DOUBLE)) AS m
            FROM edges_t e
            JOIN embeddings em ON em.vec_id = e.src_v
            CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS pos) p
            GROUP BY year(e.ts), e.dst_v, p.pos
        ),
        agg AS (
            SELECT yr, dst_v, list(m ORDER BY pos) AS aggv
            FROM per_pos GROUP BY yr, dst_v
        )
        SELECT CAST(a.yr AS BIGINT) AS yr, v.vec_id,
               {h_cols}
        FROM embeddings v JOIN agg a ON v.vec_id = a.dst_v
    """


QUERIES = {"graph_sage_windowed": graph_sage_windowed}
ORACLE = {"graph_sage_windowed": _windowed_oracle_sql()}
