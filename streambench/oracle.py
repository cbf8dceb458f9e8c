"""Independent reference results from DuckDB, and the order-insensitive
comparison against the engine's output.

Rows are paired regardless of order and compared column by column: exact
for integers, strings and timestamps (ISO form, NULL and NaN alike), and by
``float_match`` for floats, with one unit of slack only for the columns the
reference SQL rounds (``rounded_columns``). The stream sinks are read back
with DuckDB too, so checking a stream runs no Spark job.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field
from datetime import datetime

import duckdb
import numpy as np
import pandas as pd

DUCKDB_THREADS = 4


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={DUCKDB_THREADS}")
    con.execute("SET TimeZone='UTC'")
    return con


def _canon(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "<NULL>"
        return f"{int(f)}.0" if f == int(f) and abs(f) < 1e15 else repr(f)
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def rounded_columns(sql: str) -> dict[str, int]:
    """Output columns the SQL computes as ``round(<expr>, n) AS <col>``,
    with their ``n``."""
    out = {}
    for m in re.finditer(r"\bround\s*\(", sql, re.IGNORECASE):
        depth, i, last_comma = 1, m.end(), None
        while depth and i < len(sql):
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            elif sql[i] == "," and depth == 1:
                last_comma = i
            i += 1
        alias = re.match(r'\s+AS\s+"?(\w+)"?', sql[i:], re.IGNORECASE)
        places = sql[last_comma + 1 : i - 1].strip() if last_comma is not None else ""
        if depth == 0 and alias and places.isdigit():
            out[alias.group(1)] = int(places)
    return out


def float_match(got: float, want: float, places: int | None = None) -> bool:
    """Floats agree when equal, or, for a reference rounded to ``places``
    decimals, when they differ by at most one unit in that place: both
    engines sum doubles in their own order, and a last-bit difference
    before ``round()`` can move the rounded result by one unit. Other
    values must agree to 1e-9 relative."""
    got, want = float(got), float(want)
    if math.isnan(got) or math.isnan(want):
        return math.isnan(got) and math.isnan(want)
    if got == want:
        return True
    if places is not None:
        return abs(got - want) <= 1.01 * 10.0**-places
    return math.isclose(got, want, rel_tol=1e-9)


def _float_places(got: pd.DataFrame, want: pd.DataFrame, rounded: dict[str, int]) -> dict[str, int | None]:
    """Float columns (by either frame's dtype) and their rounding places,
    None for a column the reference does not round."""
    return {
        c: rounded.get(c)
        for c in want.columns
        if want[c].dtype.kind == "f" or got[c].dtype.kind == "f"
    }


def _sorted_rows(df: pd.DataFrame, cols: list[str], floats: dict) -> list[tuple]:
    def key(row):
        exact = tuple(_canon(v) for c, v in zip(cols, row) if c not in floats)
        approx = tuple(-math.inf if pd.isna(v) else float(v) for c, v in zip(cols, row) if c in floats)
        return exact + approx

    return sorted((tuple(r) for r in df[cols].itertuples(index=False, name=None)), key=key)


def _row_match(got: tuple, want: tuple, cols: list[str], floats: dict[str, int | None]) -> bool:
    for c, g, w in zip(cols, got, want):
        if c in floats:
            if not float_match(np.nan if pd.isna(g) else g, np.nan if pd.isna(w) else w, floats[c]):
                return False
        elif _canon(g) != _canon(w):
            return False
    return True


def compare(got: pd.DataFrame, want: pd.DataFrame, label: str, rounded: dict[str, int]) -> list[str]:
    """Readable mismatch lines; empty when the frames hold the same rows in
    any order (floats by ``float_match``; ``rounded`` maps the columns the
    reference rounds to their places)."""
    g_cols, w_cols = sorted(got.columns), sorted(want.columns)
    if g_cols != w_cols:
        return [f"{label}: columns {g_cols} != reference {w_cols}"]
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows != {len(want)} in reference"]
    floats = _float_places(got, want, rounded)
    pairs = zip(_sorted_rows(got, g_cols, floats), _sorted_rows(want, g_cols, floats))
    bad = [(g, w) for g, w in pairs if not _row_match(g, w, g_cols, floats)]
    if not bad:
        return []
    g, w = bad[0]
    return [f"{label}: {len(bad)} of {len(want)} rows differ, first {dict(zip(g_cols, g))} != {dict(zip(g_cols, w))}"]


# ------------------------------------------------------------------ mixes


def register_corpus(con: duckdb.DuckDBPyConnection, scans: dict[str, str]) -> None:
    for name, scan in scans.items():
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM {scan}")


# ------------------------------------------------------------------ streams


@dataclass
class StreamCheck:
    problems: list[str] = field(default_factory=list)
    batches: set[int] = field(default_factory=set)  # micro-batches that emitted a bad row


def _final_state(con, sink_dir: str, key: tuple[str, ...]) -> pd.DataFrame:
    """Update-mode sinks hold every emission; a key's final state is the row
    from the last micro-batch that emitted it."""
    keys = ", ".join(key)
    return con.execute(
        f"""
        SELECT * FROM read_parquet('{sink_dir}/*.parquet')
        QUALIFY row_number() OVER (PARTITION BY {keys} ORDER BY _batch DESC) = 1
        """
    ).df()


def _check_state(
    got: pd.DataFrame, want: pd.DataFrame, key: tuple[str, ...], label: str, rounded: dict[str, int]
) -> StreamCheck:
    """Pair final states by key; a key whose values differ, or that only one
    side has, is a mismatch, charged to the micro-batch that emitted it."""
    out = StreamCheck()
    keys = list(key)
    both = got.merge(want, on=keys, how="outer", suffixes=("", "__ref"), indicator=True)
    values = [c for c in want.columns if c not in key]
    floats = _float_places(got[values], want[values], rounded)
    bad = both["_merge"] != "both"
    for c in values:
        g, w = both[c], both[f"{c}__ref"]
        if c in floats:
            same = np.array([float_match(x, y, floats[c]) for x, y in zip(g.astype(float), w.astype(float))])
        else:
            same = (g == w).to_numpy(dtype=bool)
        bad |= ~same
    if not bad.any():
        return out
    out.problems = [f"{label}: {int(bad.sum())} of {len(want)} keys differ from the reference"]
    out.batches = {int(b) for b in both.loc[bad, "_batch"].dropna()}
    return out


def windowed_sage_sql(edges: str, embeddings: str) -> str:
    """Per-(year, destination vertex) mean of source embeddings, then
    h = relu(W_self f + W_agg agg) with the engine's published weights,
    rounded to 4 places like the engine's output."""
    from flink_streaming_gnn_spark.graph.sage import DIM, OUT_DIM, sage_weights

    w_self, w_agg = sage_weights()

    def vec(row) -> str:
        return "[" + ", ".join(repr(float(x)) for x in row) + "]"

    means = ", ".join(f"avg(CAST(s.embedding[{i}] AS DOUBLE)) AS a{i}" for i in range(1, DIM + 1))
    agg_list = ", ".join(f"a{i}" for i in range(1, DIM + 1))
    heads = ",\n".join(
        "round(greatest(0.0,"
        f" list_dot_product(CAST(v.embedding AS DOUBLE[]), {vec(w_self[i])})"
        f" + list_dot_product([{agg_list}], {vec(w_agg[i])})), 4) AS h{i + 1}"
        for i in range(OUT_DIM)
    )
    return f"""
        WITH agg AS (
            SELECT year(e.ts) AS yr, e.dst_v, {means}
            FROM {edges} e JOIN {embeddings} s ON s.vec_id = e.src_v
            GROUP BY year(e.ts), e.dst_v
        )
        SELECT CAST(a.yr AS BIGINT) AS yr, v.vec_id, {heads}
        FROM {embeddings} v JOIN agg a ON v.vec_id = a.dst_v
    """


def check_gnn(source_dir: str, emb_path: str, sink_dir: str) -> StreamCheck:
    con = connect()
    sql = windowed_sage_sql(f"read_parquet('{source_dir}/*.parquet')", f"read_parquet('{emb_path}')")
    want = con.execute(sql).df()
    got = _final_state(con, sink_dir, ("yr", "vec_id"))
    return _check_state(got, want, ("yr", "vec_id"), "gnn_stream", rounded_columns(sql))


LATEST_STATE_SQL = """
    SELECT vertex, max(seq) AS seq, arg_max(op, seq) AS op,
           arg_max(feat_value, seq) AS feat_value
    FROM {ops} GROUP BY vertex
"""


def check_graphop(source_dir: str, sink_dir: str) -> StreamCheck:
    con = connect()
    want = con.execute(LATEST_STATE_SQL.format(ops=f"read_parquet('{source_dir}/*.parquet')")).df()
    got = _final_state(con, sink_dir, ("vertex",))
    return _check_state(got, want, ("vertex",), "graphop_stream", rounded_columns(LATEST_STATE_SQL))
