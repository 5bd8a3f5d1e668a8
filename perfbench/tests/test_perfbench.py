"""The benchmark's own tests: generator determinism, the oracle gate and
the BENCHMARK.json contract.  No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import oracle
from perfbench.gen import GenParams, write_batch_log
from perfbench.workloads import TAILS, WORKLOADS, checkpoint_files, parquet_files

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMALL = GenParams(
    keys=50,
    events=2_000,
    zipf_s=1.1,
    delete_share=0.2,
    redelivery_share=0.02,
    events_per_file=700,
)


def _log(tmp_path, name: str, seed: int) -> list[str]:
    out = str(tmp_path / name / "events.parquet")
    write_batch_log(SMALL, seed, out)
    return parquet_files(out)


def test_same_seed_gives_byte_identical_files(tmp_path):
    a, b = _log(tmp_path, "a", 5), _log(tmp_path, "b", 5)
    assert [os.path.basename(f) for f in a] == [os.path.basename(f) for f in b]
    assert len(a) == 3
    for fa, fb in zip(a, b):
        with open(fa, "rb") as ha, open(fb, "rb") as hb:
            assert ha.read() == hb.read()
    c = _log(tmp_path, "c", 6)
    with open(a[0], "rb") as ha, open(c[0], "rb") as hc:
        assert ha.read() != hc.read()


def test_generator_knobs_shape_the_log(tmp_path):
    files = _log(tmp_path, "a", 1)
    t = pa.concat_tables([pq.read_table(f) for f in files])
    ids = t.column("event_id").to_numpy()
    assert len(np.unique(ids)) == SMALL.events
    assert t.num_rows - SMALL.events == sum(
        round(n * SMALL.redelivery_share) for n in (700, 700, 600)
    )
    deletes = np.mean(np.array(t.column("event_type").to_pylist()) == "error")
    assert 0.15 < deletes < 0.25
    assert t.column("user_id").to_numpy().max() < SMALL.keys


def _current_artifact(frame, path: str) -> None:
    """Write an oracle snapshot back as the engine's artifact layout."""
    ts = lambda c: pa.array(frame[c].astype("int64").to_numpy(), pa.int64()).cast(  # noqa: E731
        pa.timestamp("us")
    )
    pq.write_table(
        pa.table(
            {
                "original_id": frame["original_id"].to_numpy(),
                "user_id": frame["user_id"].to_numpy(),
                "value": frame["value"].to_numpy(),
                "event_type": frame["event_type"].to_numpy(),
                "props_k": frame["props_k"].to_numpy(),
                "original_registered_at": ts("original_registered_at_us"),
                "last_updated_at": ts("last_updated_at_us"),
            }
        ),
        path,
    )


def test_oracle_gate_catches_an_injected_wrong_row(tmp_path):
    con = oracle.connect(_log(tmp_path, "a", 2))
    expected = oracle.oracle_frame(con, "cdc_current_snapshot")
    good = str(tmp_path / "good.parquet")
    _current_artifact(expected, good)
    assert oracle.compare(oracle.artifact_frame("current", [good]), expected) == []

    wrong = expected.copy()
    wrong.loc[wrong.index[3], "value"] += 1.0
    bad = str(tmp_path / "bad.parquet")
    _current_artifact(wrong, bad)
    assert oracle.compare(oracle.artifact_frame("current", [bad]), expected) == [
        "value hash differs"
    ]
    short = str(tmp_path / "short.parquet")
    _current_artifact(expected.iloc[1:], short)
    assert oracle.compare(oracle.artifact_frame("current", [short]), expected)


def test_oracle_removes_redeliveries(tmp_path):
    files = _log(tmp_path, "a", 3)
    con = oracle.connect(files)
    assert len(oracle.oracle_frame(con, "cdc_history")) == SMALL.events


def test_checkpoint_files_reads_plain_and_compacted_logs(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    entry = lambda n: json.dumps({"path": f"file:///x/{n}", "batchId": 0})  # noqa: E731
    (log / "9.compact").write_text("v1\n" + entry("a.parquet") + "\n" + entry("b.parquet") + "\n")
    (log / "10").write_text("v1\n" + entry("c.parquet") + "\n")
    (log / ".10.crc").write_text("junk")
    assert checkpoint_files(str(tmp_path)) == {"a.parquet", "b.parquet", "c.parquet"}


def test_benchmark_json_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert [w["name"] for w in spec["workloads"]] == ["backfill", "live_tail"]
    assert list(WORKLOADS) == ["backfill", "live_tail"] and set(TAILS) == set(WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert bounds["setup_s"] == max(bounds.values())
