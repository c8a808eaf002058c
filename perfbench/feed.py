"""Seeded change-feed generator for the benchmark.

The benchmark makes its own inputs so that a change to the program can
never change what is measured. A feed is a list of batches; each batch
is one parquet file ``batch-NNNNNN/part-0.parquet`` holding rows of
``(op, doc_id, seq, ts, tokens, n_tok, source[, lang])``.

Properties of every feed:

* hot-key skew: ``HOT_EVENT_FRAC`` of the events hit ``HOT_DOC_FRAC`` of
  the documents;
* ``DELETE_FRAC`` deletes (payload null); later events re-insert;
* duplicate tails: each batch re-emits the last ``dup_tail`` rows of the
  previous batch byte for byte;
* out-of-order rows: ``LATE_FRAC`` of a batch's events are held back to
  the next batch (they arrive after higher ``seq`` values), and the rows
  of every file are shuffled;
* schema change: batches from ``evolve_at`` on carry an extra ``lang``
  column and a ``bigint`` ``n_tok`` (``int`` before).

``seq`` is the global event index, so it is unique per event and the
last-writer-wins state is well defined (see ``oracle.py``).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = np.array(["web", "books", "code", "wiki"])
LANGS = np.array(["en", "es", "zh", "de"])
VOCAB = 50_000
TS0_US = 1_700_000_000 * 1_000_000
HOT_DOC_FRAC = 0.01
HOT_EVENT_FRAC = 0.10
DELETE_FRAC = 0.05
LATE_FRAC = 0.02
MAX_TOKENS = 48
#: part of every cache key: raise it whenever a change here changes the
#: bytes generated, so that feeds cached by the old code are not reused
GENERATOR_VERSION = 1


@dataclasses.dataclass(frozen=True)
class FeedSpec:
    n_batches: int
    events_per_batch: int
    n_docs: int
    dup_tail: int
    evolve_at: int | None = None

    def key(self, seed: int) -> str:
        blob = json.dumps(
            {"seed": seed, "version": GENERATOR_VERSION, **dataclasses.asdict(self)},
            sort_keys=True,
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _event_table(spec: FeedSpec, rng: np.random.Generator, lo: int, hi: int,
                 evolved: bool) -> pa.Table:
    """Events ``lo..hi-1`` (their seq values) in the given schema state."""
    n = hi - lo
    n_hot = max(1, int(spec.n_docs * HOT_DOC_FRAC))
    hot = rng.random(n) < HOT_EVENT_FRAC
    docs = np.where(hot, rng.integers(0, n_hot, n), rng.integers(0, spec.n_docs, n))
    delete = rng.random(n) < DELETE_FRAC
    n_tok = rng.integers(1, MAX_TOKENS + 1, n)
    n_tok[delete] = 0
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    values = pa.array(rng.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32))
    tokens = pa.ListArray.from_arrays(pa.array(offsets), values, mask=pa.array(delete))
    op = np.where(delete, "D", np.where(rng.random(n) < 0.5, "I", "U"))
    seq = np.arange(lo, hi, dtype=np.int64)
    cols = {
        "op": pa.array(op),
        "doc_id": pa.array([f"doc{d:08d}" for d in docs]),
        "seq": pa.array(seq),
        "ts": pa.array(TS0_US + seq * 1000, pa.timestamp("us")),
        "tokens": tokens,
        "n_tok": pa.array(n_tok, pa.int64() if evolved else pa.int32(), mask=delete),
        "source": pa.array(SOURCES[rng.integers(0, len(SOURCES), n)], mask=delete),
    }
    lang = pa.array(LANGS[rng.integers(0, len(LANGS), n)], mask=delete)
    if evolved:
        cols["lang"] = lang
    return pa.table(cols)


def _conform(t: pa.Table, evolved: bool) -> pa.Table:
    """Cast rows generated in one schema state to a batch's schema."""
    if not evolved:
        return t
    if "lang" not in t.column_names:
        t = t.append_column("lang", pa.nulls(t.num_rows, pa.string()))
    return t.set_column(t.column_names.index("n_tok"), "n_tok", t["n_tok"].cast(pa.int64()))


def make_batches(spec: FeedSpec, seed: int) -> list[pa.Table]:
    """The feed as in-memory tables, one per batch, in file row order."""
    rng = np.random.default_rng(seed)
    batches: list[pa.Table] = []
    held = None  # late events carried into the next batch
    prev = None
    for b in range(spec.n_batches):
        evolved = spec.evolve_at is not None and b >= spec.evolve_at
        lo = b * spec.events_per_batch
        own = _event_table(spec, rng, lo, lo + spec.events_per_batch, evolved)
        late = rng.random(own.num_rows) < LATE_FRAC
        if b == spec.n_batches - 1:
            late[:] = False  # nothing may be held past the last batch
        parts = [own.filter(pa.array(~late))]
        if held is not None:
            parts.append(_conform(held, evolved))
        if prev is not None and spec.dup_tail:
            parts.append(_conform(prev.slice(max(0, prev.num_rows - spec.dup_tail)), evolved))
        held = own.filter(pa.array(late))
        t = pa.concat_tables(parts)
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        batches.append(t)
        prev = t
    return batches


def batch_dir(feed_dir: str, b: int) -> str:
    return os.path.join(feed_dir, f"batch-{b:06d}")


def batch_file(feed_dir: str, b: int) -> str:
    return os.path.join(batch_dir(feed_dir, b), "part-0.parquet")


def write_feed(spec: FeedSpec, seed: int, out_dir: str) -> None:
    for b, t in enumerate(make_batches(spec, seed)):
        os.makedirs(batch_dir(out_dir, b), exist_ok=True)
        pq.write_table(t, batch_file(out_dir, b))


def cached_feed(spec: FeedSpec, seed: int, cache_root: str) -> str:
    """Directory of the feed for (spec, seed), generated once and kept.

    The directory appears by an atomic rename, so a run cut off while
    generating never leaves a half-written feed behind for the next."""
    final = os.path.join(cache_root, spec.key(seed))
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_feed(spec, seed, tmp)
    os.makedirs(cache_root, exist_ok=True)
    os.replace(tmp, final)
    return final
