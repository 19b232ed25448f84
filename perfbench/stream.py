"""The real-time order chain: ``eventlog`` source, then
``track_order_completion``, then ``enrich_stream_with_dim`` for the
eligibility gate, into a benchmark-side sink that stamps when each
order is emitted.

One query runs three phases.  Start-up: the query starts on a
one-segment primer log and runs until the primer's orders are out, so
the first, cold micro-batch is behind it.  Drain, ``DRAIN_ROUNDS``
times: a backlog lands at once (sealed as one segment) and is timed
from the seal to its last order out; the drain rate is all backlog
items over the summed drain time.
Live, open loop: a generator thread seals ``eventlog`` segments on a
fixed schedule at a fixed item rate, whatever the consumer is doing;
latency is timed from the due time of an order's last item.  The items
are order lines of the reference tables; the seed picks the orders.
Checks: every completable order emitted exactly once, with the
eligibility the batch rule gives.
"""

from __future__ import annotations

import re
import threading
import time
from collections import Counter

import numpy as np
import pyarrow as pa

import measure

STREAM_RATE = 200.0  # items per second, open loop
LIVE_S = 3.0  # length of the open-loop phase
SEGMENT_S = 0.25  # the generator seals one segment per interval
PRIMER_ITEMS = 20
BACKLOG_ITEMS = 2000  # per drain round
DRAIN_ROUNDS = 2
EMIT_WAIT_S = 30.0

ITEM_SCHEMA = "order_id string, product_id string, num_products int, customer_id long"
ELIGIBLE = "c_acctbal >= 9000 AND c_mktsegment = 'BUILDING'"  # recommend_eligible's gate


def stream_items(seed: int, orders: pa.Table, lines: pa.Table, n_items: int, skip: set):
    """Order lines of seed-chosen orders (with at least one line, not
    in ``skip``) as stream items, slightly interleaved across orders;
    returns ``(items, order keys used)`` with ``num_products`` = the
    order's distinct parts."""
    rng = np.random.default_rng([seed, *b"stream", n_items])
    okeys = orders.column("o_orderkey").to_numpy()
    cust = orders.column("o_custkey").to_numpy()
    by_order = np.argsort(lines.column("l_orderkey").to_numpy(), kind="stable")
    lk = lines.column("l_orderkey").to_numpy()[by_order]
    pk = lines.column("l_partkey").to_numpy()[by_order]
    items, used = [], []
    for i in rng.permutation(orders.num_rows):
        ok = int(okeys[i])
        if ok in skip:
            continue
        parts = pk[np.searchsorted(lk, ok, "left"):np.searchsorted(lk, ok, "right")]
        if not len(parts):
            continue
        if len(items) + len(parts) > n_items:
            break
        used.append(ok)
        n_distinct = len(set(parts.tolist()))
        for p in parts:
            items.append((len(used) + rng.uniform(0, 3), {
                "order_id": f"o{ok}", "product_id": f"p{p}",
                "num_products": n_distinct, "customer_id": int(cust[i]),
            }))
    items.sort(key=lambda x: x[0])
    return [r for _, r in items], used


def draw(seed: int, tables: dict[str, pa.Table]) -> dict:
    """The items of the phases (disjoint orders; ``backlog`` is every
    drain round's ``backlog<r>`` together), who ordered each order and
    the eligible customers."""
    orders, lines = tables["orders"], tables["lineitem"]
    phases, taken = {}, set()
    rounds = [f"backlog{r}" for r in range(DRAIN_ROUNDS)]
    for name, n in (("live", int(STREAM_RATE * LIVE_S)),
                    *((r, BACKLOG_ITEMS) for r in rounds), ("primer", PRIMER_ITEMS)):
        phases[name], used = stream_items(seed, orders, lines, n, taken)
        phases[f"{name}_orders"] = used
        taken |= set(used)
    phases["backlog"] = [i for r in rounds for i in phases[r]]
    phases["backlog_orders"] = [k for r in rounds for k in phases[f"{r}_orders"]]
    cust = tables["customer"]
    eligible = np.asarray(cust.column("c_acctbal")) >= 9000
    eligible &= np.asarray(cust.column("c_mktsegment")) == "BUILDING"
    everything = phases["live"] + phases["backlog"] + phases["primer"]
    return {
        **phases,
        "customer_of": {r["order_id"]: r["customer_id"] for r in everything},
        "eligible": set(np.asarray(cust.column("c_custkey"))[eligible].tolist()),
    }


class Sink:
    """foreachBatch sink: collects each micro-batch and stamps when its
    orders were emitted."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.emitted: list[tuple[str, bool, float]] = []
        self.batch_of: dict[str, int] = {}
        self.sink_s = 0.0

    def __call__(self, df, batch_id) -> None:
        t = time.perf_counter()
        with self.tracer.span("stream.sink", trace_id="stream"):
            rows = df.select("order_id", "eligible").collect()
        now = time.perf_counter()
        self.emitted += [(r["order_id"], bool(r["eligible"]), now) for r in rows]
        self.batch_of.update((r["order_id"], batch_id) for r in rows)
        self.sink_s += now - t


def _start_query(ctx, log_dir: str, ckpt: str, eligible_dim, sink: Sink):
    from pyspark.sql import functions as F

    from data_lakehouse_platform_spark.streaming.order_tracker import track_order_completion
    from data_lakehouse_platform_spark.streaming.pipelines import enrich_stream_with_dim

    items = ctx.spark.readStream.format("eventlog").schema(ITEM_SCHEMA).option("path", log_dir).load()
    done = track_order_completion(items).filter(F.col("status") == "complete")
    enriched = enrich_stream_with_dim(done, eligible_dim, on="customer_id", how="left")
    return (
        enriched.select("order_id", F.coalesce("eligible", F.lit(False)).alias("eligible"))
        .writeStream.foreachBatch(sink).option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds").start()
    )


class Generator(threading.Thread):
    """Open loop: seals segment k at ``t0 + (k + 1) * SEGMENT_S`` with
    the items due in that interval, whatever the consumer is doing."""

    def __init__(self, tracer, log_dir: str, items: list[dict]):
        super().__init__(daemon=True)
        self.tracer, self.log_dir, self.items = tracer, log_dir, items
        self.appended = 0
        self.append_s = 0.0
        self.late: list[float] = []
        self.due: dict[str, float] = {}
        self.t0 = 0.0
        self.error: BaseException | None = None

    def run(self) -> None:
        from data_lakehouse_platform_spark.sources.eventlog_stream import append_segment

        try:
            per_seg = max(1, int(round(STREAM_RATE * SEGMENT_S)))
            for k, i in enumerate(range(0, len(self.items), per_seg)):
                chunk = self.items[i:i + per_seg]
                for j, item in enumerate(chunk):  # due time of each item
                    self.due[item["order_id"]] = self.t0 + (i + j + 1) / STREAM_RATE
                sched = self.t0 + (k + 1) * SEGMENT_S
                time.sleep(max(0.0, sched - time.perf_counter()))
                t = time.perf_counter()
                with self.tracer.span("eventlog.append", trace_id="generator"):
                    append_segment(self.log_dir, chunk)
                done = time.perf_counter()
                self.append_s += done - t
                self.late.append(max(0.0, t - sched))
                self.appended += 1
        except BaseException as exc:  # surfaced by the caller after join
            self.error = exc


def _progress_stats(q, stats: dict, backlog: list[int]) -> None:
    for p in q.recentProgress:
        if not p.get("numInputRows") and not p.get("stateOperators"):
            continue
        d = p.get("durationMs", {})
        stats["stream.batches"] += 1
        stats["stream.batch_s"] += d.get("triggerExecution", 0) / 1000
        stats["stream.add_batch_s"] += d.get("addBatch", 0) / 1000
        stats["stream.batch_rows"] += p.get("numInputRows", 0)
        for op in p.get("stateOperators", []):
            stats["stream.state_rows"] = max(stats["stream.state_rows"], op.get("numRowsTotal", 0))
            stats["stream.state_bytes"] = max(stats["stream.state_bytes"], op.get("memoryUsedBytes", 0))
    if backlog:
        stats["eventlog.backlog_segments"] = measure.median(backlog)


def _check_emits(res, sink: Sink, orders: list[int], cust: dict[str, int], eligible: set, what: str):
    seen = Counter(oid for oid, _, _ in sink.emitted)
    expected = {f"o{k}" for k in orders}
    once = all(seen.get(o) == 1 for o in expected) and set(seen) == expected
    res.check(once, f"{what}: {len(expected)} orders, {len(seen)} emitted, "
                    f"{sum(1 for v in seen.values() if v > 1)} twice")
    wrong = [oid for oid, flag, _ in sink.emitted if flag != (cust[oid] in eligible)]
    res.check(not wrong, f"{what}: eligibility differs from the batch rule for {wrong[:5]}")


def _emitted(sink: Sink) -> set[str]:
    return {oid for oid, _, _ in sink.emitted}


def _wait_for(q, sink: Sink, want: set[str], deadline: float) -> None:
    while not want <= _emitted(sink) and q.exception() is None:
        if time.perf_counter() > deadline:
            break
        time.sleep(0.02)


def run(ctx, extra: dict, eligible_dim, res: measure.Result, stats: dict):
    """Start-up, drain, then live, on one query; returns the live emit
    latencies and the drain rate."""
    from data_lakehouse_platform_spark.sources.eventlog_stream import (
        EventLogStreamDataSource,
        append_segment,
    )

    ctx.spark.dataSource.register(EventLogStreamDataSource)
    log_dir = str(ctx.work / "stream" / "log")
    append_segment(log_dir, extra["primer"])
    sink = Sink(ctx.tracer)
    gen = Generator(ctx.tracer, log_dir, extra["live"])
    want = {ph: {f"o{k}" for k in extra[f"{ph}_orders"]} for ph in ("primer", "backlog", "live")}
    depth, last_id, backlog_segments, drain_append_s, drain_s = [], None, 0, 0.0, []
    t = time.perf_counter()
    q = _start_query(ctx, log_dir, str(ctx.work / "stream" / "ckpt"), eligible_dim, sink)
    try:
        with ctx.span("stream.startup"):
            _wait_for(q, sink, want["primer"], t + EMIT_WAIT_S * 2)
        stats["stream.startup_s"] = time.perf_counter() - t
        for r in range(DRAIN_ROUNDS):
            with ctx.span("stream.drain"):
                # one segment: sealed in one step, the round lands in
                # one micro-batch whatever the trigger loop is doing
                t = time.perf_counter()
                with ctx.span("eventlog.append"):
                    append_segment(log_dir, extra[f"backlog{r}"])
                drain_append_s += time.perf_counter() - t
                backlog_segments += 1
                want_r = {f"o{k}" for k in extra[f"backlog{r}_orders"]}
                _wait_for(q, sink, want_r, t + EMIT_WAIT_S * 2)
                # up to the sink's stamp, not the polling loop's wake-up
                out = [at for oid, _, at in sink.emitted if oid in want_r]
                drain_s.append((max(out) if out else time.perf_counter()) - t)
        with ctx.span("stream.live"):
            gen.t0 = time.perf_counter() + SEGMENT_S
            gen.start()
            deadline = gen.t0 + LIVE_S + EMIT_WAIT_S
            while time.perf_counter() < deadline and q.exception() is None:
                p = q.lastProgress
                if p and p.get("batchId") != last_id:
                    last_id = p["batchId"]
                    end = p["sources"][0].get("endOffset")
                    if end:  # {"segment": N}: segments consumed so far
                        sealed = 1 + backlog_segments + gen.appended
                        depth.append(sealed - int(re.search(r"\d+", str(end)).group()))
                if not gen.is_alive() and want["live"] <= _emitted(sink):
                    break
                time.sleep(0.05)
            gen.join(timeout=LIVE_S + EMIT_WAIT_S)
    finally:
        q.stop()
    if gen.error is not None:
        raise gen.error
    _progress_stats(q, stats, depth)
    _check_emits(res, sink, extra["primer_orders"] + extra["backlog_orders"] + extra["live_orders"],
                 extra["customer_of"], extra["eligible"], "order stream")
    first_emit: dict[str, float] = {}
    for oid, _, at in sink.emitted:
        first_emit.setdefault(oid, at)
    lat = [first_emit[o] - gen.due[o] for o in want["live"] if o in first_emit]
    stats["stream.sink_s"] = sink.sink_s
    stats["stream.drain_batches"] = len({sink.batch_of[o] for o in want["backlog"] if o in sink.batch_of})
    stats["eventlog.append_s"] = drain_append_s + gen.append_s
    stats["eventlog.generator_late_s"] = measure.median(gen.late)
    return lat, len(extra["backlog"]) / sum(drain_s)
