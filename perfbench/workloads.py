"""The benchmark's workloads: ``backfill`` and ``live_tail``.

Both report the same end-to-end metrics (see README.md): a workload
measures each one on its own traffic.  Layer metrics a workload does not
exercise are reported as 0.
"""

from __future__ import annotations

import glob
import itertools
import json
import math
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import oracle
from perfbench.gen import (
    GenParams,
    KeySampler,
    make_file_columns,
    to_table,
    write_batch_log,
    write_table,
)
from perfbench.tracing import Tracer, median

# setup is repeated this many times per run and its median reported
SETUP_REPS = 3
# a live-tail file not visible this long after it was due has failed
# (the budget of the reference's end-to-end test script)
VISIBILITY_DEADLINE_S = 60.0

BACKFILL = GenParams(
    keys=10_000,
    events=100_000,
    zipf_s=1.1,
    delete_share=0.2,
    redelivery_share=0.02,
    events_per_file=50_000,
)
# warm-up: one rebuild of a small log pays the first-execution costs
# (code generation, class loading), two of the full log the JIT warm-up
BACKFILL_WARMUP = GenParams(
    keys=2_000,
    events=20_000,
    zipf_s=1.1,
    delete_share=0.2,
    redelivery_share=0.02,
    events_per_file=50_000,
)
# the analysts read the warehouse between rebuilds: after each rebuild,
# one read of each kind against its artifacts
BACKFILL_READS_PER_PASS = 3

LIVE_BOOT = GenParams(
    keys=20_000,
    events=60_000,
    zipf_s=1.1,
    delete_share=0.2,
    redelivery_share=0.02,
    events_per_file=50_000,
)
TAIL_EVENTS_PER_FILE = 250
TAIL_INTERVAL_S = 0.5
# one availableNow run takes every pending file as one epoch
TAIL_MAX_FILES_PER_TRIGGER = 100_000

# tail percentile per workload, the highest the samples of one run
# support: a backfill run makes too few rebuilds for a freshness tail, so
# its tail is its median; a live_tail run samples about 30 files
TAILS = {
    "backfill": {"freshness": 50, "read": 75},
    "live_tail": {"freshness": 75, "read": 75},
}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    traced: bool
    tracer: Tracer


@dataclass
class Outcome:
    """What a workload measured; ``run.py`` turns it into metrics."""

    setup_s: float
    # (events made visible, seconds) per engine call that applied them
    applied: list[tuple[int, float]]
    freshness_s: list[float]
    reads: dict[str, list[float]]
    attempted: int
    failed: int
    problems: list[str]
    layer: dict[str, float]
    info: dict
    # Spark job group -> span name, for jobs the benchmark cannot tag
    job_groups: dict[str, str] = field(default_factory=dict)
    windows: list[tuple[str, float, float]] = field(default_factory=list)


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def parquet_rows(path: str) -> int:
    return sum(
        pq.read_metadata(f).num_rows
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


# ------------------------------------------------------------------ reads


class Reader:
    """One closed-loop analyst: each read starts when the last returns,
    cycling current-row-by-key, 10 most recent history changes and one
    user's stats.  ``ops`` maps a read kind to a callable taking a key;
    it returns None or a problem string."""

    KINDS = ("current_by_key", "recent_changes", "user_stats")

    def __init__(self, tracer: Tracer, ops: dict, keys: np.ndarray):
        self.tracer = tracer
        self.ops = ops
        self.keys = keys
        self.latency: dict[str, list[float]] = {k: [] for k in self.KINDS}
        self.attempted = 0
        self.problems: list[str] = []

    def read_once(self) -> None:
        i = self.attempted
        kind = self.KINDS[i % len(self.KINDS)]
        key = int(self.keys[i % len(self.keys)])
        self.attempted += 1
        try:
            with self.tracer.span("reads") as sp:
                problem = self.ops[kind](key)
        except Exception as err:  # noqa: BLE001 — a failed read is counted
            self.problems.append(f"read {kind}({key}) raised {err!r:.200}")
            return
        self.latency[kind].append(sp.seconds)
        if problem:
            self.problems.append(f"read {kind}({key}): {problem}")

    def read_until(self, deadline: float) -> None:
        while time.time() < deadline:
            self.read_once()


def read_keys(params: GenParams, seed: int, n: int = 4096) -> np.ndarray:
    """Keys analysts ask for: the workload's own Zipf key distribution."""
    sampler = KeySampler(params.keys, params.zipf_s, np.random.default_rng(seed))
    return sampler.draw(np.random.default_rng([seed, 7]), n)


def warm_reads(ops: dict, keys: np.ndarray, rounds: int = 2) -> None:
    """Set-up: run every read kind a few times, so the first measured
    reads do not pay code generation."""
    for i in range(rounds * len(Reader.KINDS)):
        ops[Reader.KINDS[i % len(Reader.KINDS)]](int(keys[-1 - i]))


# ------------------------------------------------------- layered self time


def layered_pass(ctx: Ctx, log_dir: str, reps: int = 5) -> dict[str, float]:
    """Traced runs only: materialise each layer's output on its own to
    the noop sink, so a layer's self time is its span minus the span of
    the layer it consumes (history, snapshot: the feed; stats: history;
    feed: the scan)."""
    from cdc_practice_spark.cdc import (
        build_current,
        build_history,
        build_user_stats,
        change_feed_from_events,
    )
    from cdc_practice_spark.session import load_table

    spark = ctx.spark
    ev = load_table(spark, log_dir, "events")
    feed = change_feed_from_events(ev)
    hist = build_history(feed)
    plans = {
        "sources.scan": ev,
        "cdc.feed": feed,
        "cdc.history": hist,
        "cdc.snapshot": build_current(feed),
        "cdc.stats": build_user_stats(hist),
    }
    times: dict[str, list[float]] = {k: [] for k in plans}
    for _ in range(reps):
        for name, df in plans.items():
            with ctx.tracer.span(name) as sp:
                df.write.format("noop").mode("overwrite").save()
            times[name].append(sp.seconds)
    t = {k: median(v) for k, v in times.items()}
    raw = ev.count()
    feed_rows = feed.count()
    return {
        "sources.scan_s": t["sources.scan"],
        "cdc.feed.self_s": t["cdc.feed"] - t["sources.scan"],
        "cdc.history.self_s": t["cdc.history"] - t["cdc.feed"],
        "cdc.snapshot.self_s": t["cdc.snapshot"] - t["cdc.feed"],
        "cdc.stats.self_s": t["cdc.stats"] - t["cdc.history"],
        "cdc.feed.rows_out": feed_rows,
        "cdc.history.rows_out": hist.count(),
        "cdc.snapshot.rows_out": plans["cdc.snapshot"].count(),
        "cdc.stats.rows_out": plans["cdc.stats"].count(),
        "_raw_rows": raw,
    }


# ---------------------------------------------------------------- backfill


def rebuild(spark, log_dir: str, out: str) -> None:
    """One full rebuild: the change log through the one-exchange CDC plan
    into the three warehouse artifacts."""
    from cdc_practice_spark.cdc import (
        build_current,
        build_history,
        build_user_stats,
        change_feed_from_events,
    )
    from cdc_practice_spark.session import load_table

    feed = change_feed_from_events(load_table(spark, log_dir, "events"))
    hist = build_history(feed)
    hist.write.mode("overwrite").parquet(os.path.join(out, "history"))
    build_current(feed).write.mode("overwrite").parquet(os.path.join(out, "current"))
    build_user_stats(hist).write.mode("overwrite").parquet(os.path.join(out, "stats"))


def backfill(ctx: Ctx) -> Outcome:
    from pyspark.sql import functions as F

    spark, tracer, params = ctx.spark, ctx.tracer, BACKFILL
    gen_s = []
    for r in range(SETUP_REPS):
        log_dir = os.path.join(ctx.work, f"log{r}")
        t = time.time()
        gen = write_batch_log(params, ctx.seed, os.path.join(log_dir, "events.parquet"))
        gen_s.append(time.time() - t)
    event_files = parquet_files(os.path.join(log_dir, "events.parquet"))

    # the oracle is the gate, not set-up
    con = oracle.connect(event_files)
    expected = {
        art: oracle.oracle_frame(con, query)
        for art, (query, _) in oracle.ARTIFACTS.items()
    }
    con.close()
    cur_by_key = expected["current"].set_index("original_id")
    stats_by_user = expected["stats"].set_index("user_id")
    top10 = sorted(expected["history"]["kafka_offset"].tolist())[-10:][::-1]

    # set-up proper: warm-up rebuilds, then the reads once each
    t_warm = time.time()
    out_root = os.path.join(ctx.work, "out")
    warm_dir = os.path.join(ctx.work, "warmup")
    write_batch_log(BACKFILL_WARMUP, ctx.seed, os.path.join(warm_dir, "events.parquet"))
    rebuild(spark, warm_dir, os.path.join(out_root, "warm0"))
    for i in (1, 2):
        rebuild(spark, log_dir, os.path.join(out_root, f"warm{i}"))

    published = {"dir": os.path.join(out_root, "warm2")}

    def current_by_key(k):
        rows = (
            spark.read.parquet(os.path.join(published["dir"], "current"))
            .filter(F.col("original_id") == k)
            .collect()
        )
        want = cur_by_key.loc[[k]] if k in cur_by_key.index else None
        if (want is None) != (not rows) or (
            rows and rows[0]["value"] != want["value"].iloc[0]
        ):
            return "row differs from the oracle"
        return None

    def recent_changes(_k):
        rows = (
            spark.read.parquet(os.path.join(published["dir"], "history"))
            .orderBy(F.desc("kafka_offset"))
            .limit(10)
            .collect()
        )
        if [r["kafka_offset"] for r in rows] != top10:
            return "offsets differ from the oracle"
        return None

    def user_stats(k):
        rows = (
            spark.read.parquet(os.path.join(published["dir"], "stats"))
            .filter(F.col("user_id") == k)
            .collect()
        )
        want = stats_by_user.loc[[k]] if k in stats_by_user.index else None
        if (want is None) != (not rows) or (
            rows and rows[0]["n_changes"] != want["n_changes"].iloc[0]
        ):
            return "row differs from the oracle"
        return None

    ops = {
        "current_by_key": current_by_key,
        "recent_changes": recent_changes,
        "user_stats": user_stats,
    }
    keys = read_keys(params, ctx.seed)
    warm_reads(ops, keys)
    setup_s = median(gen_s) + time.time() - t_warm
    t0 = time.time()
    deadline = t0 + ctx.seconds
    reader = Reader(tracer, ops, keys)
    passes: list[tuple[str, float]] = []
    problems: list[str] = []
    persisted = 0
    while time.time() < deadline:
        out = os.path.join(out_root, f"p{len(passes)}")
        try:
            with tracer.span("cdc.rebuild") as sp:
                rebuild(spark, log_dir, out)
        except Exception as err:  # noqa: BLE001 — a failed pass is counted
            problems.append(f"rebuild raised {err!r:.200}")
            passes.append((out, float("nan")))
            continue
        persisted = max(persisted, persisted_rdds(spark))
        passes.append((out, sp.seconds))
        published["dir"] = out
        for _ in range(BACKFILL_READS_PER_PASS):
            reader.read_once()
    window_s = time.time() - t0

    # gate: every pass's artifacts hold the oracle's row counts; the last
    # pass's artifacts equal the oracle's values
    good = [(o, s) for o, s in passes if not math.isnan(s)]
    gate_problems = []
    for out, _ in good:
        for art, frame in expected.items():
            n = parquet_rows(os.path.join(out, art))
            if n != len(frame):
                gate_problems.append(f"{out}/{art}: {n} rows, oracle {len(frame)}")
    if good:
        for art, frame in expected.items():
            actual = oracle.artifact_frame(
                art, parquet_files(os.path.join(good[-1][0], art))
            )
            gate_problems += [f"{art}: {p}" for p in oracle.compare(actual, frame)]
    problems += gate_problems + reader.problems

    apply_s = [s for _, s in good]
    layer: dict[str, float] = {
        "plans.cache.persisted_after_call": persisted,
    }
    if ctx.traced:
        lp = layered_pass(ctx, log_dir)
        raw = lp.pop("_raw_rows")
        layer.update(lp)
        layer["cdc.feed.dup_removed_share"] = (raw - lp["cdc.feed.rows_out"]) / gen[
            "redeliveries"
        ]
    return Outcome(
        setup_s=setup_s,
        applied=[(gen["rows"], s) for s in apply_s],
        freshness_s=apply_s,
        reads=reader.latency,
        attempted=len(passes) + reader.attempted + 1,
        failed=len(passes) - len(good) + len(reader.problems) + bool(gate_problems),
        problems=problems,
        layer=layer,
        info={
            "generator": params.record(),
            "log": gen,
            "warmup_generator": BACKFILL_WARMUP.record(),
            "window_s": window_s,
            "pass_s": [s for _, s in passes],
            "setup_reps_s": gen_s,
        },
        windows=[("cdc.rebuild", s.start, s.end) for s in tracer.named("cdc.rebuild")],
    )


# --------------------------------------------------------------- live tail


class TailGenerator(threading.Thread):
    """Open-loop source: file k is due at ``t0 + k * interval`` whatever
    the engine is doing, until ``deadline`` (settable while it runs).  Its
    events are made when it is due — the seeded columns of the next
    file, stamped with the due time as their creation time — and it is
    renamed into ``src`` when written."""

    def __init__(self, params: GenParams, seed: int, first_event_id: int, src: str):
        super().__init__(daemon=True)
        self.params = params
        self.sampler = KeySampler(params.keys, params.zipf_s, np.random.default_rng(seed))
        self.rng = np.random.default_rng([seed, 1])
        self.next_event_id = first_event_id
        self.src = src
        self.t0 = time.time()
        self.deadline = float("inf")
        self.written: list[dict] = []
        self._lock = threading.Lock()

    def run(self) -> None:
        for k in itertools.count():
            due = self.t0 + k * TAIL_INTERVAL_S
            if due >= self.deadline:
                return
            cols = make_file_columns(
                self.params, self.sampler, self.rng, self.next_event_id, TAIL_EVENTS_PER_FILE
            )
            self.next_event_id += TAIL_EVENTS_PER_FILE
            time.sleep(max(0.0, due - time.time()))
            name = f"tail-{k:05d}.parquet"
            ts = np.full(len(cols["event_id"]), int(due * 1e6), dtype=np.int64)
            write_table(to_table(cols, ts), os.path.join(self.src, name))
            with self._lock:
                self.written.append(
                    {"name": name, "due": due, "lag": time.time() - due, "cols": cols}
                )

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.written)


def checkpoint_files(ckpt: str) -> set[str]:
    """Names of the files a file-source stream has committed to batches,
    from its checkpoint's source log (plain and compacted entries)."""
    names: set[str] = set()
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        base = os.path.basename(path)
        if base.startswith(".") or base.endswith(".crc") or base.endswith(".tmp"):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    names.add(os.path.basename(json.loads(line)["path"]))
    return names


def manifest_state(state_root: str) -> dict[str, str]:
    with open(os.path.join(state_root, "_MANIFEST")) as fh:
        return {k: v for k, v in json.load(fh).items() if not k.startswith("t")}


def bootstrap(spark, boot_dir: str, state_root: str, snapshot_offset: int) -> None:
    """Seed the bucketed stream state from a batch snapshot of the log."""
    from cdc_practice_spark.cdc import build_current, change_feed_from_events
    from cdc_practice_spark.session import load_table
    from cdc_practice_spark.streaming.pipeline import seed_bucketed_state

    snap = build_current(change_feed_from_events(load_table(spark, boot_dir, "events")))
    seed_bucketed_state(spark, snap, state_root, snapshot_offset)


def live_tail(ctx: Ctx) -> Outcome:
    from pyspark.sql import functions as F

    from cdc_practice_spark.cdc import build_history, build_user_stats
    from cdc_practice_spark.orchestration import JobSpec, run
    from cdc_practice_spark.streaming.pipeline import (
        load_current_state,
        read_events_stream,
        stream_current_upsert,
        stream_history_append,
    )

    spark, tracer, params = ctx.spark, ctx.tracer, LIVE_BOOT
    gen_s = []
    for r in range(SETUP_REPS):
        boot_dir = os.path.join(ctx.work, f"boot{r}")
        t = time.time()
        boot = write_batch_log(params, ctx.seed, os.path.join(boot_dir, "events.parquet"))
        gen_s.append(time.time() - t)
    t_setup = time.time()
    state_root = os.path.join(ctx.work, "state")
    bootstrap(spark, boot_dir, state_root, boot["max_event_id"])

    src = os.path.join(ctx.work, "src")
    hist_dir = os.path.join(ctx.work, "history")
    ck_cur = os.path.join(ctx.work, "ckpt_current")
    ck_hist = os.path.join(ctx.work, "ckpt_history")
    os.makedirs(src)
    job = JobSpec(
        name="live_tail", run_root=os.path.join(ctx.work, "job"), retries=0, retry_delay_s=0
    )
    os.makedirs(job.run_root)
    run_ids: dict[str, str] = {}
    last: dict[str, list] = {}

    def sink_run() -> None:
        q1 = stream_current_upsert(
            spark,
            read_events_stream(spark, src, TAIL_MAX_FILES_PER_TRIGGER),
            state_root,
            ck_cur,
        )
        q2 = stream_history_append(
            read_events_stream(spark, src, TAIL_MAX_FILES_PER_TRIGGER), hist_dir, ck_hist
        )
        run_ids[str(q1.runId)] = "streaming.pipeline"
        run_ids[str(q2.runId)] = "streaming.history"
        q1.awaitTermination()
        q2.awaitTermination()
        last["cur"], last["hist"] = q1.recentProgress, q2.recentProgress

    # the source starts now; the warm-up run takes what it has written
    # when the first file is due, and files due during warm-up are the
    # backlog the measured runs start from
    gen = TailGenerator(params, ctx.seed, boot["max_event_id"] + 1, src)
    gen.start()
    while not gen.snapshot():
        time.sleep(0.01)
    t = time.time()
    run(job, sink_run)
    warm_s = time.time() - t
    done = checkpoint_files(ck_cur) & checkpoint_files(ck_hist)

    def current_by_key(k):
        rows = load_current_state(spark, state_root).filter(F.col("original_id") == k).collect()
        return "more than one current row" if len(rows) > 1 else None

    def recent_changes(_k):
        rows = (
            spark.read.parquet(hist_dir).orderBy(F.desc("kafka_offset")).limit(10).collect()
        )
        return None if len(rows) == 10 else f"{len(rows)} recent changes"

    def user_stats(k):
        hist = spark.read.parquet(hist_dir).filter(F.col("original_id") == k)
        rows = build_user_stats(build_history(hist)).collect()
        return "more than one stats row" if len(rows) > 1 else None

    ops = {
        "current_by_key": current_by_key,
        "recent_changes": recent_changes,
        "user_stats": user_stats,
    }
    keys = read_keys(params, ctx.seed)
    warm_reads(ops, keys, rounds=1)
    setup_s = median(gen_s) + time.time() - t_setup
    t0 = time.time()
    deadline = gen.deadline = t0 + ctx.seconds
    reader = Reader(tracer, ops, keys)
    reading = threading.Thread(target=reader.read_until, args=(deadline,), daemon=True)
    reading.start()

    visible: dict[str, float] = {}
    runs: list[dict] = []
    problems: list[str] = []
    failed_runs = 0
    persisted = 0
    # no run starts after the deadline: files still pending then are
    # censored (neither sampled nor applied), not failed
    while time.time() < deadline and failed_runs < 3:
        pending = [f for f in gen.snapshot() if f["name"] not in done]
        if not pending:
            time.sleep(0.01)
            continue
        before = manifest_state(state_root)
        try:
            with tracer.span("streaming.run") as sp:
                run(job, sink_run)
        except Exception as err:  # noqa: BLE001 — a failed run is counted
            problems.append(f"sink run raised {err!r:.200}")
            failed_runs += 1
            continue
        persisted = max(persisted, persisted_rdds(spark))
        applied = checkpoint_files(ck_cur) & checkpoint_files(ck_hist)
        new = [f for f in gen.snapshot() if f["name"] in applied and f["name"] not in done]
        for f in new:
            visible[f["name"]] = sp.end
            done.add(f["name"])
        after = manifest_state(state_root)
        touched = [b for b in set(before) | set(after) if before.get(b) != after.get(b)]
        rewritten = sum(parquet_rows(after[b]) for b in touched if b in after)
        n_keys = len(np.unique(np.concatenate([f["cols"]["user_id"] for f in new]))) if new else 0
        runs.append(
            {
                "s": sp.seconds,
                "start": sp.start,
                "end": sp.end,
                "backlog": len(pending),
                "files": len(new),
                "events": sum(len(f["cols"]["event_id"]) for f in new),
                "touched": len(touched) / max(len(after), 1),
                "rewritten": rewritten,
                "keys": n_keys,
                "cur": [p for p in last["cur"] if p["numInputRows"] > 0],
                "cur_batches": len(last["cur"]),
                "cur_all_ms": sum(p["batchDuration"] for p in last["cur"]),
                "hist": [p for p in last["hist"] if p["numInputRows"] > 0],
            }
        )
    reading.join()
    gen.join()
    t_end = time.time()
    window_s = t_end - t0

    written = gen.snapshot()
    freshness = []
    late = 0
    window_files = [f for f in written if f["due"] >= t0]
    n_window_files = len(window_files)
    for f in window_files:
        if f["name"] in visible:
            freshness.append(visible[f["name"]] - f["due"])
        if visible.get(f["name"], t_end) - f["due"] > VISIBILITY_DEADLINE_S:
            late += 1
    if late:
        problems.append(f"{late} files not visible within {VISIBILITY_DEADLINE_S:.0f} s")

    # gate: the final state equals the oracle over bootstrap + every file
    # the upsert sink applied; the history sink holds each event of the
    # files it applied once
    applied_files = [os.path.join(src, f) for f in sorted(checkpoint_files(ck_cur))]
    con = oracle.connect(parquet_files(os.path.join(boot_dir, "events.parquet")) + applied_files)
    expected = oracle.oracle_frame(con, "cdc_current_snapshot")
    con.close()
    state_files = sorted(
        f for d in manifest_state(state_root).values() for f in parquet_files(d)
    )
    gate_problems = [
        f"state: {p}"
        for p in oracle.compare(oracle.artifact_frame("current", state_files), expected)
    ]
    applied_files = [os.path.join(src, f) for f in sorted(checkpoint_files(ck_hist))]
    con = oracle.connect(applied_files)
    distinct_events = con.sql("SELECT count(*) FROM events").fetchone()[0]
    raw_rows = con.sql(
        "SELECT count(*) FROM read_parquet(" + oracle.file_list(applied_files) + ")"
    ).fetchone()[0]
    con.close()
    hist_rows = spark.read.parquet(hist_dir).count()
    if hist_rows != distinct_events:
        gate_problems.append(f"history: {hist_rows} rows, oracle {distinct_events}")
    problems += gate_problems + reader.problems

    cur_epochs = [p for r in runs for p in r["cur"]]
    hist_epochs = [p for r in runs for p in r["hist"]]
    injected = raw_rows - distinct_events
    layer: dict[str, float] = {
        "plans.cache.persisted_after_call": persisted,
        "streaming.pipeline.start_s": median(
            [r["s"] - r["cur_all_ms"] / 1000 for r in runs]
        ),
        "streaming.pipeline.epoch_s": median([p["batchDuration"] / 1000 for p in cur_epochs]),
        "streaming.history.epoch_s": median([p["batchDuration"] / 1000 for p in hist_epochs]),
        "streaming.pipeline.buckets_touched_share": median([r["touched"] for r in runs]),
        "streaming.pipeline.rewrite_amplification": median(
            [r["rewritten"] / r["keys"] for r in runs if r["keys"]]
        ),
        "streaming.pipeline.files_per_epoch": median([r["files"] for r in runs]),
        "streaming.upsert.rows_per_s": median(
            [
                p["numInputRows"] / (p["durationMs"]["addBatch"] / 1000)
                for p in cur_epochs
                if p["durationMs"].get("addBatch")
            ]
        ),
        "streaming.pipeline.dedup_state_rows": cur_epochs[-1]["stateOperators"][0][
            "numRowsTotal"
        ],
        "streaming.pipeline.state_bytes": sum(os.path.getsize(f) for f in state_files),
        "generator.lag_s": max(f["lag"] for f in written),
        "generator.backlog_files": max(r["backlog"] for r in runs),
        "cdc.feed.dup_removed_share": (raw_rows - hist_rows) / injected if injected else 1.0,
        "_pipeline_batches": sum(r["cur_batches"] for r in runs),
    }
    if ctx.traced:
        lp = layered_pass(ctx, boot_dir)
        lp.pop("_raw_rows")
        layer.update(lp)
    n_fail = late + failed_runs + len(reader.problems) + len(gate_problems)
    return Outcome(
        setup_s=setup_s,
        applied=[(r["events"], r["s"]) for r in runs],
        freshness_s=freshness,
        reads=reader.latency,
        attempted=n_window_files + len(runs) + failed_runs + reader.attempted + 2,
        failed=n_fail,
        problems=problems,
        layer=layer,
        info={
            "generator": params.record(),
            "tail": {
                "events_per_file": TAIL_EVENTS_PER_FILE,
                "interval_s": TAIL_INTERVAL_S,
                "files": len(written),
                "offered_events_per_s": TAIL_EVENTS_PER_FILE / TAIL_INTERVAL_S,
            },
            "window_s": window_s,
            "runs": [
                {k: r[k] for k in ("s", "backlog", "files", "events")} for r in runs
            ],
            "warmup_run_s": warm_s,
            "setup_reps_s": gen_s,
        },
        job_groups=run_ids,
        windows=[
            ("streaming.pipeline", s.start, s.end) for s in tracer.named("streaming.run")
        ],
    )


WORKLOADS = {"backfill": backfill, "live_tail": live_tail}
