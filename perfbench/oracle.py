"""Last-writer-wins oracle, written independently of the program.

For each ``doc_id`` the event with the highest ``seq`` wins; if it is a
delete the document is absent. Duplicated events share their ``seq`` and
payload, so which copy wins does not matter. The oracle reads the feed
files exactly as the program reads them.
"""

from __future__ import annotations

import math

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PAYLOAD = ("tokens", "n_tok", "source", "lang")


def events_frame(tables: list[pa.Table]) -> pd.DataFrame:
    frames = []
    for t in tables:
        df = t.to_pandas()
        if "lang" not in df.columns:
            df["lang"] = None
        frames.append(df[["op", "doc_id", "seq", *PAYLOAD]])
    return pd.concat(frames, ignore_index=True)


def read_batches(paths: list[str]) -> list[pa.Table]:
    return [pq.read_table(p) for p in paths]


def lww_frame(events: pd.DataFrame) -> pd.DataFrame:
    """The winning event of every live document, indexed by ``doc_id``."""
    last = events.sort_values("seq", kind="stable").drop_duplicates("doc_id", keep="last")
    return last[last["op"] != "D"].set_index("doc_id")


def lww_state(events: pd.DataFrame) -> dict[str, tuple]:
    """doc_id -> (tokens, n_tok, source, lang) of every live document."""
    return frame_state(lww_frame(events))


def frame_state(live: pd.DataFrame, docs=None) -> dict[str, tuple]:
    """:func:`lww_state` from a :func:`lww_frame`, of ``docs`` only if given."""
    if docs is not None:
        live = live[live.index.isin(docs)]
    return {
        d: norm_row(t, n, s, la)
        for d, t, n, s, la in zip(
            live.index, live["tokens"], live["n_tok"], live["source"], live["lang"]
        )
    }


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return v


def norm_row(tokens, n_tok, source, lang) -> tuple:
    """A row's payload as plain, comparable values (arrays -> tuples)."""
    tokens = _norm(tokens) if not hasattr(tokens, "__len__") else tokens
    return (
        None if tokens is None else tuple(int(x) for x in tokens),
        None if _norm(n_tok) is None else int(n_tok),
        _norm(source),
        _norm(lang),
    )


def table_state(rows: pd.DataFrame) -> dict[str, tuple]:
    """The same shape as :func:`lww_state`, from rows the program returned."""
    if "lang" not in rows.columns:
        rows = rows.assign(lang=None)
    return {
        d: norm_row(t, n, s, la)
        for d, t, n, s, la in zip(
            rows["doc_id"], rows["tokens"], rows["n_tok"], rows["source"], rows["lang"]
        )
    }


def diff(expected: dict[str, tuple], actual: dict[str, tuple], limit: int = 5) -> list[str]:
    """Human-readable mismatches, at most ``limit`` of them; empty if equal."""
    out = []
    for d in sorted(set(expected) | set(actual)):
        e, a = expected.get(d), actual.get(d)
        if e != a:
            out.append(f"{d}: expected {_short(e)} got {_short(a)}")
            if len(out) >= limit:
                break
    return out


def _short(row) -> str:
    if row is None:
        return "absent"
    tokens, n_tok, source, lang = row
    head = None if tokens is None else list(tokens[:4])
    return f"(tokens[:4]={head} n_tok={n_tok} source={source} lang={lang})"
