"""live_tail: the indexer tailing the chain, pushing hashes, serving reads.

Set-up (timed as ``setup_s``): session start, the seeded events table,
the derived chain written as one history feed file, and the history
pre-loaded through ``IngestPipeline.start_stream`` in available-now
mode, the way a deployment backfills before it tails. That first round
also pays the JVM's code generation, which every start pays; no other
warm-up is done.

Window (open loop): one thread writes one block's feed file (10 tx)
every BLOCK_TIME_S with ``streaming.feeder.write_feed_file``. That is
1 s, not the chain's 5 s. Against ~8-10 s rounds every arrival rate
above one block a round leaves the stream a full round behind, so
freshness is set by round time either way; 5 s blocks give one sample
per 5 s of window, each a whole round apart when a half-second change
in one round moves a block across a round boundary, while 1 s blocks
give one every second. With a window shorter than the first round
(the benchmark's is 8 s) the first round takes block 0 alone and the
second all the others, so a run is two rounds and no block sits on a
round boundary. The stream runs on its 500 ms trigger and pushes each
batch's hashes through ``ApiHost`` ``/ws`` to one websocket client. A
block's freshness runs from when it was due to when the client has
received all its hashes; ``latency_p50_s`` and ``latency_tail_s`` are
taken over the blocks of the run.

After the window the stream drains and stops, then two closed-loop
clients run per-account lookups (balance cache, trust cache, the
safe's timeline, get_capacity) for LOOKUP_S seconds over the tables the
run wrote, with the small-file layout live appends leave. Accounts
follow a seeded Zipf law.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np

from inputs import chain_feed, write_events
from spans import OWN_GROUP, force, wrap_function
from worker import compare_frames, percentile, tail

BLOCK_TIME_S = 1.0
N_USERS = 1_000
N_HISTORY_EVENTS = 4_000
DRAIN_S = 45.0
LOOKUP_S = 2.0
LOOKUP_CLIENTS = 2
LOOKUP_KINDS = ("balances", "trust", "timeline", "capacity")
# registry queries whose Spark side reads the final tables; each has a
# DuckDB oracle over the events table
REGISTRY_CHECKS = (
    "chain_classification_counts",
    "chain_eth_transfer_stats",
    "chain_hub_transfers_per_day",
    "chain_safe_eth_transfers",
    "chain_org_signups",
)
ENGINE_LAYERS = ("runner", "promote", "classify", "extract", "sink", "caches", "views")


def _addr(user_id: int) -> str:
    return "0x" + format(user_id + 1, "040x")


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def _instrument(tracer, pipe_cls, runner, caches_mod, views_mod, sink_dir, rounds):
    """Traced twins of the layer entry points the runner calls. Counts
    that need their own Spark job are taken outside the layer's span,
    under ``tracer.counting``, whose time is taken out of the round."""
    stale_frames: list = []

    def traced_promote(*args, **kwargs):
        with tracer.counting():
            scanned = sum(
                kwargs[k].count() for k in ("existing_blocks", "existing_txs") if kwargs.get(k) is not None
            )
        with tracer.span("promote", "promote"):
            out = traced_promote.__wrapped__(*args, **kwargs)
        with tracer.counting():
            tracer.add("promote.history_rows_scanned", scanned)
            tracer.add("promote.new_tx", out["transaction_raw"].count())
        return out

    traced_promote.__wrapped__ = runner.promote
    runner.promote = traced_promote

    wrap_function(tracer, runner, "classify", "classify", "classify", after=force, count="classify.tx")

    def traced_extract(*args, **kwargs):
        with tracer.span("extract", "extract_all"):
            out = {k: force(v) for k, v in traced_extract.__wrapped__(*args, **kwargs).items()}
        with tracer.counting():
            for k, v in out.items():
                tracer.add(f"extract.rows_out.{k}", v.count())
        return out

    traced_extract.__wrapped__ = runner.extract_all
    runner.extract_all = traced_extract

    wrap_function(tracer, pipe_cls, "_append", "sink", "append")
    wrap_function(tracer, pipe_cls, "read_final", "sink", "read_final")
    wrap_function(tracer, pipe_cls, "read_cache", "sink", "read_cache")
    wrap_function(tracer, pipe_cls, "refresh_caches", "caches", "refresh_caches")
    for name in ("stale_balance_addresses", "stale_trust_addresses"):
        wrap_function(
            tracer, caches_mod, name, "caches", name,
            after=lambda df: stale_frames.append(df) or df,
        )
    # refresh runs the two caches in pool threads, which do not inherit
    # the caller's job group; forcing each refreshed frame in its own
    # span charges that work to the caches layer
    for name in ("refresh_balance_cache", "refresh_trust_cache"):
        wrap_function(tracer, caches_mod, name, "caches", name, after=force)
    for fn in ("crc_safe_timeline", "get_capacity"):
        wrap_function(tracer, views_mod, fn, "views", fn)

    def traced_batch(self, feed, epoch_id=0):
        before = _dir_files(sink_dir)
        counts_before = dict(tracer.counts)
        with tracer.counting():
            blocks = feed.select("block_number").distinct().count()
        stale_frames.clear()
        t0 = time.time()
        with tracer.span("runner", "process_batch"):
            traced_batch.__wrapped__(self, feed, epoch_id)
        t1 = time.time()
        after = _dir_files(sink_dir)
        new = [p for p in after if p not in before]
        with tracer.counting():
            stale_keys = sum(df.count() for df in stale_frames)
            cache_rows = sum(
                self.spark.read.parquet(os.path.join(sink_dir, c)).count()
                for c in (runner.CACHE_BALANCES, runner.CACHE_TRUST)
                if os.path.isdir(os.path.join(sink_dir, c))
            )
        rounds.append(
            {
                "start": t0,
                "end": t1,
                "blocks": blocks,
                "files_written": len(new),
                "bytes_written": sum(after[p] for p in new),
                "stale_keys": stale_keys,
                "cache_rows": cache_rows,
                "counts": {k: v - counts_before.get(k, 0.0) for k, v in tracer.counts.items()},
            }
        )

    traced_batch.__wrapped__ = pipe_cls.process_batch
    pipe_cls.process_batch = traced_batch


def run(spark, spec: dict, tracer, t_start: float) -> dict:
    from pyspark.sql import functions as F

    from blockchain_indexer_spark.operators import caches as caches_mod
    from blockchain_indexer_spark.operators import views as views_mod
    from blockchain_indexer_spark.plans import REGISTRY
    from blockchain_indexer_spark.plans import chain as chain_plans
    from blockchain_indexer_spark.sources.ws import WsConnection
    from blockchain_indexer_spark.streaming import runner
    from blockchain_indexer_spark.streaming.api import ApiHost, BroadcastLog
    from blockchain_indexer_spark.streaming.feeder import write_feed_file

    run_dir, seed, seconds = spec["run_dir"], spec["seed"], spec["seconds"]
    sf_dir = os.path.join(run_dir, "sf")
    feed_dir = os.path.join(run_dir, "feed")
    sink_dir = os.path.join(run_dir, "sink")
    ckpt_dir = os.path.join(run_dir, "checkpoint")
    os.makedirs(feed_dir)

    # ---- inputs -----------------------------------------------------
    n_live = int(np.ceil(seconds / BLOCK_TIME_S))
    t_gen = time.monotonic()
    write_events(sf_dir, seed, N_HISTORY_EVENTS + 10 * n_live, N_USERS)
    feed = chain_feed(spark, sf_dir)
    cols = list(feed.columns)
    live_numbers = sorted(feed["block_number"].unique())[-n_live:]
    is_live = feed["block_number"].isin(live_numbers)
    write_feed_file(feed[~is_live][cols], feed_dir, "history-000000")
    live_blocks = [feed[feed["block_number"] == b][cols] for b in live_numbers]
    live_hashes = [set(b["hash"]) for b in live_blocks]
    history_tx = int((~is_live).sum())

    gen_s = time.monotonic() - t_gen
    rounds: list[dict] = []
    if tracer.enabled:
        _instrument(tracer, runner.IngestPipeline, runner, caches_mod, views_mod, sink_dir, rounds)

    # ---- pre-load the history, then tail ----------------------------
    publish_at: dict[int, float] = {}
    log = BroadcastLog()

    def on_imported(hashes):
        publish_at[log.end_cursor] = time.monotonic()
        log.publish(hashes)

    host = ApiHost(log).start()
    pipe = runner.IngestPipeline(spark, sink_dir, on_imported=on_imported, on_batch=log.touch)
    t_pre = time.monotonic()
    q = pipe.start_stream(feed_dir, ckpt_dir, available_now=True)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"history pre-load failed: {q.exception()}")
    preload_s = time.monotonic() - t_pre

    frames: list[tuple[float, int, list[str]]] = []
    stop = threading.Event()
    ws = WsConnection("ws://%s:%d/ws" % host.address)

    def receive():
        while not stop.is_set():
            try:
                _, payload = ws.recv_frame(timeout=0.25)
            except TimeoutError:
                continue
            except (ConnectionError, OSError):
                return
            msg = json.loads(payload)
            frames.append((time.monotonic(), msg["seq"], msg["hashes"]))

    receiver = threading.Thread(target=receive, daemon=True)
    receiver.start()
    q = pipe.start_stream(feed_dir, ckpt_dir, available_now=False)

    # ---- open-loop window ---------------------------------------------
    t0 = time.monotonic() + 0.1
    setup_s = t0 - t_start
    emitted: list[dict] = []

    def generate():
        for i, rows in enumerate(live_blocks):
            due = t0 + i * BLOCK_TIME_S
            time.sleep(max(0.0, due - time.monotonic()))
            started = time.monotonic()
            write_feed_file(rows, feed_dir, f"live-{i:06d}")
            emitted.append({"due": due, "started": started, "written": time.monotonic()})

    gen = threading.Thread(target=generate, daemon=True)
    gen.start()
    gen.join(timeout=seconds + 30)
    window_end = t0 + seconds
    time.sleep(max(0.0, window_end - time.monotonic()))

    def received() -> dict[str, float]:
        first: dict[str, float] = {}
        for t, _, hashes in list(frames):
            for h in hashes:
                first.setdefault(h, t)
        return first

    def done(first, i) -> bool:
        return all(h in first for h in live_hashes[i])

    first = received()
    backlog = sum(1 for i in range(len(emitted)) if not done(first, i))
    drain_deadline = time.monotonic() + DRAIN_S
    while time.monotonic() < drain_deadline and q.exception() is None:
        first = received()
        if all(done(first, i) for i in range(len(emitted))):
            break
        time.sleep(0.1)
    # let the round that announced the last block finish before stopping
    settle = time.monotonic() + 10.0
    while q.status["isTriggerActive"] and time.monotonic() < settle:
        time.sleep(0.1)
    q.stop()
    stream_error = q.exception()
    round_ms = [p["durationMs"].get("triggerExecution", 0) for p in q.recentProgress if p["numInputRows"]]
    stop.set()
    receiver.join(timeout=5)
    ws.close()
    host.stop()
    first = received()

    problems: list[str] = []
    if stream_error is not None:
        problems.append(f"stream failed: {stream_error}")
    if len(emitted) != n_live:
        problems.append(f"generator emitted {len(emitted)} of {n_live} blocks")
    freshness, lateness, queue_wait = [], [], []
    unannounced = 0
    for i, e in enumerate(emitted):
        lateness.append(e["started"] - e["due"])
        if not done(first, i):
            unannounced += 1
            continue
        got = max(first[h] for h in live_hashes[i])
        freshness.append(got - e["due"])
        wall_written = time.time() - (time.monotonic() - e["written"])
        starts = [r["start"] for r in rounds if r["start"] >= wall_written]
        if starts:
            queue_wait.append(min(starts) - wall_written)
    # every emitted hash announced exactly once, nothing else announced
    announced: dict[str, int] = {}
    for _, _, hashes in frames:
        for h in hashes:
            announced[h] = announced.get(h, 0) + 1
    want = set().union(*live_hashes[: len(emitted)]) if emitted else set()
    dupes = [h for h, n in announced.items() if n != 1]
    extra = [h for h in announced if h not in want]
    if dupes:
        problems.append(f"{len(dupes)} tx hashes announced more than once")
    if extra:
        problems.append(f"{len(extra)} announced hashes were never emitted in the window")
    if unannounced:
        problems.append(f"{unannounced} blocks never announced within {DRAIN_S:.0f} s")

    # ---- closed-loop lookups over what the run wrote -----------------
    rng = np.random.default_rng(seed + 1)
    perm = rng.permutation(N_USERS)
    lookups: list[dict] = []
    lookup_lock = threading.Lock()

    def lookup(kind: str, a: str, b: str) -> list:
        with tracer.span("views", kind):
            if kind == "balances":
                df = pipe.read_cache(runner.CACHE_BALANCES).filter(F.col("safe_address") == a)
            elif kind == "trust":
                df = pipe.read_cache(runner.CACHE_TRUST).filter(
                    (F.col("user") == a) | (F.col("can_send_to") == a)
                )
            elif kind == "timeline":
                tables = {n: pipe.read_final(n) for n in runner.EVENT_TABLES}
                df = views_mod.crc_safe_timeline(tables).filter(F.col("safe_address") == a)
            else:
                df = views_mod.get_capacity(
                    pipe.read_cache(runner.CACHE_BALANCES),
                    pipe.read_cache(runner.CACHE_TRUST),
                    from_=a, to=b, token_owner=a,
                )
            return df.collect()

    def client(c: int, end: float) -> None:
        crng = np.random.default_rng([seed, c])
        i = 3 * c  # the second client starts on capacity, the slowest kind to reach
        while time.monotonic() < end:
            a, b = (_addr(int(perm[(r - 1) % N_USERS])) for r in crng.zipf(1.3, 2))
            kind = LOOKUP_KINDS[i % len(LOOKUP_KINDS)]
            i += 1
            t = time.monotonic()
            try:
                rows, ok = lookup(kind, a, b), True
            except Exception as exc:  # noqa: BLE001 - a failed lookup is counted, not fatal
                rows, ok = repr(exc), False
            with lookup_lock:
                lookups.append({"kind": kind, "account": a, "s": time.monotonic() - t, "ok": ok, "rows": rows})

    t_look = time.monotonic()
    drain_s = t_look - window_end
    clients = [
        threading.Thread(target=client, args=(c, t_look + LOOKUP_S), daemon=True)
        for c in range(LOOKUP_CLIENTS)
    ]
    for th in clients:
        th.start()
    for th in clients:
        th.join(timeout=LOOKUP_S + 60)
    look_wall = time.monotonic() - t_look
    failed_lookups = [x for x in lookups if not x["ok"]]
    for x in failed_lookups[:3]:
        problems.append(f"lookup {x['kind']} failed: {x['rows'][:200]}")

    # ---- correctness against the registry's DuckDB oracles ------------
    import duckdb

    t_check = time.monotonic()

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')")
    final = {n: pipe.read_final(n).drop("block_group") for n in runner.EVENT_TABLES}
    final["classified"] = final["transaction"]
    chain_plans._PIPELINE_CACHE[(spark.sparkContext.applicationId, sf_dir)] = final
    for name in REGISTRY_CHECKS:
        q_ = REGISTRY[name]
        problems += compare_frames(name, q_.build(spark, sf_dir).toPandas(), con.sql(q_.oracle).df())
    bal_want = con.sql(REGISTRY["chain_crc_balances"].oracle).df()
    trust_want = con.sql(REGISTRY["chain_current_trust"].oracle).df()
    bal_got = (
        pipe.read_cache(runner.CACHE_BALANCES)
        .select("safe_address", "token", F.col("balance").cast("string").alias("balance"))
        .toPandas()
    )
    trust_got = pipe.read_cache(runner.CACHE_TRUST).select("user", "can_send_to", "limit").toPandas()
    problems += compare_frames("balance cache", bal_got, bal_want)
    problems += compare_frames("trust cache", trust_got, trust_want)
    # sampled lookups against the same oracles
    import pandas as pd

    for x in [x for x in lookups if x["ok"] and x["kind"] in ("balances", "trust")][:8]:
        a = x["account"]
        if x["kind"] == "balances":
            got = pd.DataFrame(
                [(r["safe_address"], r["token"], str(r["balance"])) for r in x["rows"]],
                columns=["safe_address", "token", "balance"],
            )
            want_rows = bal_want[bal_want["safe_address"] == a]
        else:
            got = pd.DataFrame(
                [(r["user"], r["can_send_to"], r["limit"]) for r in x["rows"]],
                columns=["user", "can_send_to", "limit"],
            ).astype({"limit": trust_want["limit"].dtype})
            want_rows = trust_want[(trust_want["user"] == a) | (trust_want["can_send_to"] == a)]
        problems += compare_frames(f"{x['kind']} lookup {a}", got, want_rows.reset_index(drop=True))

    # ---- results --------------------------------------------------------
    lat = [x["s"] for x in lookups if x["ok"]]
    info = [
        f"live_tail: {len(emitted)} blocks of 10 tx every {BLOCK_TIME_S:.0f} s over "
        f"{history_tx} history tx ({N_USERS} users); pre-load round {preload_s:.2f} s",
        f"phases: setup {setup_s:.1f} s, window {seconds} s, drain {drain_s:.1f} s, "
        f"lookups {look_wall:.1f} s, checks {time.monotonic() - t_check:.1f} s; "
        f"inputs {gen_s:.1f} s, pre-load {preload_s:.1f} s",
        "live rounds_s: " + " ".join(f"{ms / 1000:.2f}" for ms in round_ms),
        "freshness_s per block: " + " ".join(f"{v:.3f}" for v in freshness),
        f"live_gen_lateness_s={max(lateness, default=0.0):.4f} s live_backlog_files={backlog} "
        f"backfill_tx_per_s={history_tx / preload_s:.1f} 1/s (pre-load round, with code generation)",
    ]
    if lat:
        p, v = tail(lat)
        info.append(
            f"lookup_p50_ms={percentile(lat, 50) * 1000:.1f} ms lookup_tail_ms={v * 1000:.1f} ms "
            f"(p{p:g} of {len(lat)}) lookups_per_s={len(lat) / look_wall:.2f} 1/s "
            f"by {LOOKUP_CLIENTS} clients"
        )
    res = {
        "problems": problems,
        "attempted": len(live_blocks) + len(lookups),
        "failed": unannounced + (n_live - len(emitted)) + len(failed_lookups),
        "info": info,
        "e2e": {},
        "layers": {},
    }
    if freshness:
        p, v = tail(freshness)
        res["e2e"] = {"setup_s": setup_s, "latency_p50_s": percentile(freshness, 50), "latency_tail_s": v}
        info.append(
            f"freshness_p50_s={res['e2e']['latency_p50_s']:.3f} s freshness_tail_s={v:.3f} s "
            f"(p{p:g} of {len(freshness)} blocks) = latency_p50_s / latency_tail_s"
        )
    if not tracer.enabled:
        return res

    # ---- per-layer figures (traced run only) ----------------------------
    live_rounds = [r for r in rounds if r["start"] >= time.time() - (time.monotonic() - t0)]
    n_r = max(1, len(live_rounds))
    win = [(r["start"], r["end"]) for r in live_rounds]

    def per_round(layer: str, name: str | None = None) -> float:
        return tracer.busy_s(layer, name, within=win) / n_r

    # the benchmark's own count jobs run inside the rounds; their time
    # is not the program's
    own_s = per_round(OWN_GROUP)
    round_s = sum(b - a for a, b in win) / n_r - own_s
    covered = {
        "promote": per_round("promote"),
        "classify": per_round("classify"),
        "extract": per_round("extract"),
        "sink": per_round("sink", "append"),
        "caches": per_round("caches"),
    }
    preload = [(r["start"], r["end"]) for r in rounds if r not in live_rounds]
    preload_round_s = sum(b - a for a, b in preload) - tracer.busy_s(OWN_GROUP, within=preload)
    info.append(
        f"traced live round {round_s:.2f} s (the benchmark's count jobs, {own_s:.2f} s, taken out): "
        + ", ".join(f"{k} {v:.2f}" for k, v in covered.items())
        + f", uncovered {round_s - sum(covered.values()):.2f} s"
    )
    c: dict[str, float] = {}
    for r in live_rounds:
        for k, v in r["counts"].items():
            c[k] = c.get(k, 0.0) + v / n_r
    lay = {
        "runner.round_s": (round_s, "s"),
        "runner.uncovered_s": (round_s - sum(covered.values()), "s"),
        "runner.queue_wait_s": (percentile(queue_wait, 50) if queue_wait else 0.0, "s"),
        "runner.blocks_per_round": (sum(r["blocks"] for r in live_rounds) / n_r, "count"),
        "runner.rounds": (float(len(live_rounds)), "count"),
        "runner.preload_round_s": (preload_round_s, "s"),
        "runner.preload_tx_per_s": (history_tx / max(1e-9, preload_round_s), "1/s"),
        "promote.busy_s": (covered["promote"], "s"),
        "promote.new_tx": (c.get("promote.new_tx", 0.0), "count"),
        "promote.history_rows_scanned": (c.get("promote.history_rows_scanned", 0.0), "count"),
        "promote.new_per_scanned": (
            c.get("promote.new_tx", 0.0) / max(1.0, c.get("promote.history_rows_scanned", 0.0)),
            "ratio",
        ),
        "classify.busy_s": (covered["classify"], "s"),
        "classify.tx": (c.get("classify.tx", 0.0), "count"),
        "extract.busy_s": (covered["extract"], "s"),
        "sink.append_s": (covered["sink"], "s"),
        "sink.read_s": (per_round("sink", "read_final") + per_round("sink", "read_cache"), "s"),
        "sink.files_written": (sum(r["files_written"] for r in live_rounds) / n_r, "count"),
        "sink.bytes_written": (sum(r["bytes_written"] for r in live_rounds) / n_r, "bytes"),
        "sink.files_live": (float(len(_dir_files(sink_dir))), "count"),
        "caches.refresh_s": (covered["caches"], "s"),
        "caches.stale_keys": (sum(r["stale_keys"] for r in live_rounds) / n_r, "count"),
        "caches.rows_rewritten": (sum(r["cache_rows"] for r in live_rounds) / n_r, "count"),
        "caches.rows_per_stale_key": (
            sum(r["cache_rows"] for r in live_rounds) / max(1, sum(r["stale_keys"] for r in live_rounds)),
            "ratio",
        ),
        "api.push_s": (0.0, "s"),
        "api.hashes_pushed": (float(sum(len(h) for _, _, h in frames)), "count"),
        "live_gen_lateness_s": (max(lateness, default=0.0), "s"),
        "live_backlog_files": (float(backlog), "count"),
        "traced.setup_s": (setup_s, "s"),
        "traced.latency_p50_s": (percentile(freshness, 50) if freshness else 0.0, "s"),
    }
    for name in runner.EVENT_TABLES:
        lay[f"extract.rows_out.{name}"] = (c.get(f"extract.rows_out.{name}", 0.0), "count")
    pushes = [t - publish_at[seq] for t, seq, _ in frames if seq in publish_at]
    if pushes:
        lay["api.push_s"] = (percentile(pushes, 50), "s")
    if lat:
        lay["lookup.p50_ms"] = (percentile(lat, 50) * 1000, "ms")
        lay["lookup.tail_ms"] = (tail(lat)[1] * 1000, "ms")
        lay["lookups_per_s"] = (len(lat) / look_wall, "1/s")
    for kind in LOOKUP_KINDS:
        durs = [s["end"] - s["start"] for s in tracer.spans if s["layer"] == "views" and s["name"] == kind]
        lay[f"views.{kind}.busy_s"] = (sum(durs) / max(1, len(durs)), "s")
    scanned = {
        "balances": pipe.read_cache(runner.CACHE_BALANCES).count(),
        "trust": pipe.read_cache(runner.CACHE_TRUST).count(),
        "timeline": sum(pipe.read_final(n).count() for n in runner.EVENT_TABLES),
    }
    scanned["capacity"] = scanned["balances"] + scanned["trust"]
    ok = [x for x in lookups if x["ok"]]
    lay["views.rows_scanned_per_result"] = (
        sum(scanned[x["kind"]] for x in ok) / max(1, sum(len(x["rows"]) for x in ok)),
        "ratio",
    )
    res["layers"] = lay

    def round_counts(jobs, stage_times):
        n_jobs = sum(1 for j in jobs for a, b in win if a <= j["t"] <= b)
        n_stages = sum(1 for t in stage_times for a, b in win if a <= t <= b)
        return {
            "runner.spark_jobs_per_round": (n_jobs / n_r, "count"),
            "runner.spark_stages_per_round": (n_stages / n_r, "count"),
        }

    res["round_counts"] = round_counts
    res["engine_layers"] = ENGINE_LAYERS
    return res
