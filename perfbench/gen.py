"""Seeded change-log generator with the ``events`` fixture schema.

Every file it writes has the columns ``event_id, ts, user_id, event_type,
value, props`` that ``cdc_practice_spark.session.load_table`` and
``change_feed_from_events`` read, so a generated directory can stand in
for a fixture ``sf_dir`` unchanged.  ``event_type == 'error'`` is the
delete rewrite; a coordinate redelivery is a byte-identical copy of an
earlier row of the same file (same ``event_id``, so same Kafka offset).

Everything except ``ts`` is a pure function of the seed and the
parameters.  Batch logs stamp ``ts`` from the event id, so the same seed
gives byte-identical files; the live tail stamps ``ts`` with the wall
clock when a file is due.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LIVE_TYPES = ("click", "purchase", "signup", "view")
# 2024-01-01T00:00:00 in epoch microseconds: batch logs start here
TS_BASE_US = 1_704_067_200_000_000
TS_STEP_US = 1_000

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@dataclass(frozen=True)
class GenParams:
    keys: int
    events: int
    zipf_s: float
    delete_share: float
    redelivery_share: float
    events_per_file: int

    def record(self) -> dict:
        return asdict(self)


class KeySampler:
    """Zipf(s) over ``keys`` ranks; rank r maps to a seeded permutation of
    the key ids, so hot keys are spread over the hash buckets."""

    def __init__(self, keys: int, zipf_s: float, rng: np.random.Generator):
        weights = 1.0 / np.arange(1, keys + 1, dtype=np.float64) ** zipf_s
        self._p = weights / weights.sum()
        self._ids = rng.permutation(keys).astype(np.int64)

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return self._ids[rng.choice(len(self._ids), size=n, p=self._p)]


def make_file_columns(
    params: GenParams,
    sampler: KeySampler,
    rng: np.random.Generator,
    first_event_id: int,
    n: int,
) -> dict[str, np.ndarray]:
    """Columns of one file of ``n`` fresh events plus its redeliveries,
    without ``ts``.  Redelivered rows are appended after the originals,
    as an at-least-once bus delivers them."""
    event_id = np.arange(first_event_id, first_event_id + n, dtype=np.int64)
    user_id = sampler.draw(rng, n)
    is_delete = rng.random(n) < params.delete_share
    live_type = np.array(LIVE_TYPES)[rng.integers(0, len(LIVE_TYPES), n)]
    event_type = np.where(is_delete, "error", live_type)
    value = np.round(rng.uniform(1.0, 500.0, n), 2)
    k = rng.integers(0, 100, n)
    n_dup = int(round(n * params.redelivery_share))
    dup = np.sort(rng.choice(n, size=n_dup, replace=False))
    idx = np.concatenate([np.arange(n), dup])
    props = np.array([f'{{"k": {v}}}' for v in k[idx]], dtype=object)
    return {
        "event_id": event_id[idx],
        "user_id": user_id[idx],
        "event_type": event_type[idx],
        "value": value[idx],
        "props": props,
    }


def to_table(cols: dict[str, np.ndarray], ts_us: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "event_id": cols["event_id"],
            "ts": pa.array(ts_us.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": cols["user_id"],
            "event_type": pa.array(cols["event_type"].tolist(), pa.string()),
            "value": cols["value"],
            "props": pa.array(cols["props"].tolist(), pa.string()),
        },
        schema=SCHEMA,
    )


def batch_ts(event_id: np.ndarray) -> np.ndarray:
    return TS_BASE_US + event_id * TS_STEP_US


def write_table(table: pa.Table, path: str) -> None:
    """Write one file atomically (rename into place), so a streaming
    file source never lists a half-written file."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def write_batch_log(
    params: GenParams, seed: int, out_dir: str, first_event_id: int = 0
) -> dict:
    """Write ``params.events`` fresh events (plus redeliveries) as files of
    ``params.events_per_file`` under ``out_dir``; returns counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    sampler = KeySampler(params.keys, params.zipf_s, rng)
    rows = dups = 0
    lo = first_event_id
    end = first_event_id + params.events
    i = 0
    while lo < end:
        n = min(params.events_per_file, end - lo)
        cols = make_file_columns(params, sampler, rng, lo, n)
        table = to_table(cols, batch_ts(cols["event_id"]))
        write_table(table, os.path.join(out_dir, f"part-{i:05d}.parquet"))
        rows += table.num_rows
        dups += table.num_rows - n
        lo += n
        i += 1
    return {"files": i, "rows": rows, "redeliveries": dups, "max_event_id": end - 1}
