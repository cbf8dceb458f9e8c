"""GraphSAGE-style embedding layer — the reference's streaming GNN forward
(SURVEY.md §2A A7/A8: ``h_v = σ(W_self·f_v + W_agg·agg_v)``, neural math on
DL4J/ND4J per /root/reference/README.md:2) re-expressed Spark-first:

  1. neighbor aggregation = broadcast join + ONE hash aggregate with 64
     per-element avg() expressions (pure JVM, whole-stage codegen, no row
     blowup, no Python) — the incremental MeanAggregator (A6) as a plan;
  2. the NN forward = one Arrow-batched pandas UDF doing a numpy matmul
     over the whole batch — the reference's "windowed forward" tensor
     batching (A8), with Arrow batches playing the role of the window.

Weights are deterministic (seeded, rounded to 6 dp) and embedded as
literals in the generated DuckDB oracle SQL, so a 4×64 matmul + ReLU is
checked end-to-end against ``list_dot_product`` twins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

from flink_streaming_gnn_spark.graph.edges import EDGES_V_CTE, derive_vertex_embeddings
from flink_streaming_gnn_spark.plans.hints import maybe_broadcast
from flink_streaming_gnn_spark.sources.tables import load_table

DIM = 64
OUT_DIM = 4


def sage_weights(out_dim: int = OUT_DIM, in_dim: int = DIM) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic layer weights, rounded so SQL literals match exactly."""
    w_self = np.round(np.random.RandomState(42).randn(out_dim, in_dim) * 0.1, 6)
    w_agg = np.round(np.random.RandomState(43).randn(out_dim, in_dim) * 0.1, 6)
    return w_self, w_agg


def neighbor_mean(
    edges_v: DataFrame, features: DataFrame, dim: int, *keys: str | Column
) -> DataFrame:
    """Per-vertex mean of in-neighbor feature vectors.

    JVM-only: one join + one hash aggregate with ``dim`` element-wise
    avg() columns; scales to arbitrary edge counts with a single shuffle on
    dst_v (partial aggregation handles hot vertices). ``features`` grows
    with the graph, so it is broadcast only while Catalyst estimates it
    small — at scale this becomes a shuffle join on src_v, which is the
    right plan for a features table that no longer fits one executor.
    ``features`` must have (vec_id, feat array<…>). ``keys`` are extra
    group-by columns (e.g. a time window), output ahead of (dst_v, agg).
    """
    joined = edges_v.join(maybe_broadcast(features), edges_v.src_v == features.vec_id)
    aggs = [
        F.avg(F.element_at(F.col("feat").cast("array<double>"), i)).alias(f"_a{i}")
        for i in range(1, dim + 1)
    ]
    per_dst = joined.groupBy(*keys, "dst_v").agg(*aggs)
    return per_dst.select(
        *per_dst.columns[: len(keys) + 1],
        F.array(*[f"_a{i}" for i in range(1, dim + 1)]).alias("agg"),
    )


def sage_forward(
    vertices: DataFrame,
    neighbor_agg: DataFrame,
    w_self: np.ndarray,
    w_agg: np.ndarray,
    *keys: str | Column,
) -> DataFrame:
    """h_v = relu(W_self @ f_v + W_agg @ agg_v) as an Arrow-batched numpy
    matmul. ``vertices``: (vec_id, feat), ``neighbor_agg``: (dst_v, agg)
    plus the ``keys`` columns, which are output ahead of (vec_id, h).
    Inner join: only vertices with at least one in-neighbor get an output
    (same semantics in the oracle twin)."""
    ws, wa = w_self.tolist(), w_agg.tolist()  # pickled by value into the UDF

    @pandas_udf(ArrayType(DoubleType()))
    def forward(f_col, a_col):
        import numpy as _np

        w1 = _np.asarray(ws)
        w2 = _np.asarray(wa)
        f = _np.stack([_np.asarray(x, dtype=_np.float64) for x in f_col])
        a = _np.stack([_np.asarray(x, dtype=_np.float64) for x in a_col])
        h = _np.maximum(f @ w1.T + a @ w2.T, 0.0)
        return pd.Series(list(h))

    joined = neighbor_agg.join(
        maybe_broadcast(vertices), neighbor_agg.dst_v == vertices.vec_id
    )
    return joined.select(*keys, "vec_id", forward("feat", "agg").alias("h"))


def graph_sage_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full SAGE layer over the tensor fixture graph (64 → 4 dims),
    output as flat rounded columns for the oracle hash."""
    w_self, w_agg = sage_weights()
    edges_v = derive_vertex_embeddings(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("feat")
    )
    agg = neighbor_mean(edges_v, emb, DIM)
    h = sage_forward(emb, agg, w_self, w_agg)
    return h.select(
        "vec_id",
        *[
            F.round(F.element_at("h", i), 4).alias(f"h{i}")
            for i in range(1, OUT_DIM + 1)
        ],
    )


def graph_sage_2layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained SAGE layers (reference A9 next-layer forward: layer ℓ's
    output DataFrame is layer ℓ+1's vertex-feature input — the acyclic
    chain replaces the reference's operator-to-operator GraphOp forwarding).
    Layer 2 works on 4-dim features. Rows-only check (the single-layer
    oracle already pins the math)."""
    w_self1, w_agg1 = sage_weights()
    w_self2 = np.round(np.random.RandomState(44).randn(OUT_DIM, OUT_DIM) * 0.1, 6)
    w_agg2 = np.round(np.random.RandomState(45).randn(OUT_DIM, OUT_DIM) * 0.1, 6)

    edges_v = derive_vertex_embeddings(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("feat")
    )
    h1 = sage_forward(emb, neighbor_mean(edges_v, emb, DIM), w_self1, w_agg1)

    feats2 = h1.select("vec_id", F.col("h").alias("feat"))
    h2 = sage_forward(feats2, neighbor_mean(edges_v, feats2, OUT_DIM), w_self2, w_agg2)
    return h2.select(
        "vec_id",
        *[
            F.round(F.element_at("h", i), 4).alias(f"h{i}")
            for i in range(1, OUT_DIM + 1)
        ],
    )


def _vec_literal(row: np.ndarray) -> str:
    return "[" + ", ".join(repr(float(x)) for x in row) + "]"


def _sage_oracle_sql() -> str:
    w_self, w_agg = sage_weights()
    h_cols = ",\n               ".join(
        "round(greatest(0.0,"
        f" list_dot_product(CAST(v.embedding AS DOUBLE[]), {_vec_literal(w_self[i])})"
        f" + list_dot_product(a.aggv, {_vec_literal(w_agg[i])})), 4) AS h{i + 1}"
        for i in range(OUT_DIM)
    )
    return f"""
        WITH {EDGES_V_CTE},
        per_pos AS (
            SELECT e.dst_v, p.pos, avg(CAST(em.embedding[p.pos] AS DOUBLE)) AS m
            FROM edges_v e
            JOIN embeddings em ON em.vec_id = e.src_v
            CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS pos) p
            GROUP BY e.dst_v, p.pos
        ),
        agg AS (
            SELECT dst_v, list(m ORDER BY pos) AS aggv FROM per_pos GROUP BY dst_v
        )
        SELECT v.vec_id,
               {h_cols}
        FROM embeddings v JOIN agg a ON v.vec_id = a.dst_v
    """


def _sage_2layer_oracle_sql() -> str:
    """Exact SQL twin of the CHAINED forward (round-2 upgrade from
    rows-only): layer 1 emitted UNROUNDED (both engines carry full f64
    through the chain; only the final layer rounds), layer 2's 4-dim
    neighbor mean and literal 4×4 heads are mechanical."""
    w_self1, w_agg1 = sage_weights()
    w_self2 = np.round(np.random.RandomState(44).randn(OUT_DIM, OUT_DIM) * 0.1, 6)
    w_agg2 = np.round(np.random.RandomState(45).randn(OUT_DIM, OUT_DIM) * 0.1, 6)
    g_cols = ",\n               ".join(
        "greatest(0.0,"
        f" list_dot_product(CAST(v.embedding AS DOUBLE[]), {_vec_literal(w_self1[i])})"
        f" + list_dot_product(a.aggv, {_vec_literal(w_agg1[i])})) AS g{i + 1}"
        for i in range(OUT_DIM)
    )
    b_cols = ", ".join(f"avg(h.g{i + 1}) AS b{i + 1}" for i in range(OUT_DIM))
    h2_cols = ",\n               ".join(
        "round(greatest(0.0, "
        + " + ".join(
            f"h.g{j + 1} * ({w_self2[i, j]!r}) + a.b{j + 1} * ({w_agg2[i, j]!r})"
            for j in range(OUT_DIM)
        )
        + f"), 4) AS h{i + 1}"
        for i in range(OUT_DIM)
    )
    return f"""
        WITH {EDGES_V_CTE},
        per_pos AS (
            SELECT e.dst_v, p.pos, avg(CAST(em.embedding[p.pos] AS DOUBLE)) AS m
            FROM edges_v e
            JOIN embeddings em ON em.vec_id = e.src_v
            CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS pos) p
            GROUP BY e.dst_v, p.pos
        ),
        agg1 AS (
            SELECT dst_v, list(m ORDER BY pos) AS aggv FROM per_pos GROUP BY dst_v
        ),
        h1 AS (
            SELECT v.vec_id,
               {g_cols}
            FROM embeddings v JOIN agg1 a ON v.vec_id = a.dst_v
        ),
        agg2 AS (
            SELECT e.dst_v, {b_cols}
            FROM edges_v e JOIN h1 h ON h.vec_id = e.src_v
            GROUP BY e.dst_v
        )
        SELECT h.vec_id,
               {h2_cols}
        FROM h1 h JOIN agg2 a ON h.vec_id = a.dst_v
    """


QUERIES = {
    "graph_sage_layer": graph_sage_layer,
    "graph_sage_2layer": graph_sage_2layer,
}

ORACLE = {
    "graph_sage_layer": _sage_oracle_sql(),
    "graph_sage_2layer": _sage_2layer_oracle_sql(),
}
