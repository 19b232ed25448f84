"""``analyst_stream``: the serving side.  An analyst runs a closed loop
(one client) of passes over registry queries; beside it the real-time
order chain (stream.py) gates recommendations on the same catalog.

Half of the list is build-heavy (driver-side DataFrame construction
with eager jobs), half execution-heavy.  Each query is timed at the
calls the benchmark makes: ``build`` (the registry builder),
``plan`` (forcing the physical plan) and ``exec`` (materializing the
whole result as Arrow).  An untimed warm-up pass goes first, then
the stream, then ``timed_passes(--seconds)`` timed passes.  Every
result, warm-up included, is compared with the query's DuckDB oracle
on value, emitted order and Arrow dtype, outside the timers.  The
inputs are the reference tables (refdata.py), split into multi-file
parquet at set-up.
"""

from __future__ import annotations

import math
import shutil
import time
from collections import defaultdict

import measure
import refdata
import stream

ROWS_PER_FILE = 16_000
BUILD_HEAVY = ("rfm_segments", "recommend_eligible")
EXEC_HEAVY = ("fuzzy_match_customers", "q3_shipping_priority")
HALF = {**{q: "build_heavy" for q in BUILD_HEAVY}, **{q: "exec_heavy" for q in EXEC_HEAVY}}
# Fixed, interleaved order; the seed varies the data instead.
QUERIES = ("rfm_segments", "fuzzy_match_customers", "recommend_eligible", "q3_shipping_priority")
# A warm pass takes about this long; ``--seconds`` buys one timed pass
# per PASS_S, a count fixed before the loop so that a slow run measures
# the same passes as a fast one.
PASS_S = 9.0
# The catalog layer is timed on its own, once, after the timed passes:
# one load of every table the mix reads (each parquet load runs a
# schema-inference job).
CATALOG_TABLES = ("customer", "orders", "lineitem", "part")


def timed_passes(seconds: float) -> int:
    return max(1, round(seconds / PASS_S))


def draw(seed: int, tables: dict) -> dict:
    """Untimed: the seeded stream items drawn from the reference."""
    return {"tables": tables, "stream": stream.draw(seed, tables)}


def prepare(ctx, drawn: dict, rep: int) -> measure.Inputs:
    """Timed set-up: the multi-file layout the catalog reads."""
    path = ctx.work / f"input{rep}"
    if rep:
        shutil.rmtree(ctx.work / f"input{rep - 1}", ignore_errors=True)
    nbytes = refdata.write_layout(drawn["tables"], str(path), ROWS_PER_FILE)
    return measure.Inputs(str(path), nbytes, drawn["stream"])


# ---------------------------------------------------------------------------
# correctness


def oracle_tables(inputs: measure.Inputs, names) -> dict:
    import duckdb

    from data_lakehouse_platform_spark.queries import all_queries

    qs = all_queries()
    con = duckdb.connect()
    try:
        for t in refdata.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{inputs.path}/{t}.parquet/*.parquet')"
            )
        return {n: con.execute(qs[n].oracle).fetch_arrow_table() for n in names}
    finally:
        con.close()


def _dtype(t) -> str:
    import pyarrow as pa

    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_timestamp(t):
        return f"timestamp[{t.unit}]"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_dtype(t.value_type)}>"
    return str(t)


def _values(col) -> list:
    import pyarrow as pa
    import pyarrow.compute as pc

    if pa.types.is_timestamp(col.type):
        col = pc.cast(col, pa.int64())
    return [
        "nan" if isinstance(v, float) and math.isnan(v) else v
        for v in col.to_pylist()
    ]


def mismatch(got, want) -> str | None:
    """Why Arrow table ``got`` differs from ``want`` (names, dtypes,
    values in emitted order), or None when they agree exactly."""
    if got.column_names != want.column_names:
        return f"columns {got.column_names} != {want.column_names}"
    for name in got.column_names:
        g, w = _dtype(got.schema.field(name).type), _dtype(want.schema.field(name).type)
        if g != w:
            return f"dtype {name}: {g} != {w}"
    if got.num_rows != want.num_rows:
        return f"rows {got.num_rows} != {want.num_rows}"
    for name in got.column_names:
        gv, wv = _values(got.column(name)), _values(want.column(name))
        if gv != wv:
            i = next(i for i, (a, b) in enumerate(zip(gv, wv)) if a != b)
            return f"{name}[{i}]: {gv[i]!r} != {wv[i]!r}"
    return None


# ---------------------------------------------------------------------------
# the loop


def _catalog_loads(ctx, inputs, layers: defaultdict) -> None:
    from data_lakehouse_platform_spark.catalog import load_table

    stats: dict[str, float] = {}
    t = time.perf_counter()
    with ctx.span("catalog.load"), ctx.counters.group("catalog", stats):
        for name in CATALOG_TABLES:
            load_table(ctx.spark, inputs.path, name)
    layers["catalog.load_s"] += time.perf_counter() - t
    layers["catalog.load_jobs"] += stats.get("jobs", 0)


def _run_query(ctx, query, inputs, layers: defaultdict, report: list):
    """One query through build, plan and exec; returns its wall time
    and its Arrow result (None when it raised).  Build, plan and exec
    times also go to ``layers`` under the query's half."""
    spark = ctx.spark
    build, execs = {}, {}
    t0 = time.perf_counter()
    try:
        with ctx.span("queries.build"), ctx.counters.group("build", build):
            df = query.build(spark, inputs.path)
        t1 = time.perf_counter()
        with ctx.span("planner.plan"):
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        with ctx.span("exec.run"), ctx.counters.group("exec", execs):
            table = df.toArrow()
        t3 = time.perf_counter()
    except Exception as exc:  # a failing query is counted, not fatal
        report.append(f"query {query.name} raised {type(exc).__name__}: {exc}"[:400])
        return time.perf_counter() - t0, None
    finally:
        # record what the query left persisted, then release it so
        # the next query starts from an empty cache
        layers["exec.persisted_blocks_after"] += measure.persisted_blocks(spark)
        measure.release_persisted(spark)
    layers["queries.build_s"] += t1 - t0
    layers["queries.build_jobs"] += build.get("jobs", 0)
    layers["planner.plan_s"] += t2 - t1
    layers["exec.exec_s"] += t3 - t2
    half = HALF[query.name]
    for k, v in (("build_s", t1 - t0), ("plan_s", t2 - t1), ("exec_s", t3 - t2)):
        layers[f"{half}.{k}"] += v
    for k, v in execs.items():
        layers[f"exec.{k}"] += v
    return t3 - t0, table


def run(ctx, inputs: measure.Inputs) -> measure.Result:
    from data_lakehouse_platform_spark.catalog import load_table
    from data_lakehouse_platform_spark.queries import all_queries

    qs = all_queries()
    res = measure.Result()
    with ctx.span("check.oracle"):
        want = oracle_tables(inputs, QUERIES)

    def one_pass(layers: defaultdict) -> dict[str, float]:
        times = {}
        with ctx.span("bench.pass"):
            for name in QUERIES:
                wall, got = _run_query(ctx, qs[name], inputs, layers, res.report)
                times[name] = wall
                with ctx.span("check.compare"):
                    why = "raised" if got is None else mismatch(got, want[name])
                res.check(why is None, f"{name}: {why}")
        return times

    # warm-up: checked, not timed; it takes the session's cold start
    one_pass(defaultdict(float))
    # The stream runs after the warm-up pass, so its drain is timed in
    # a warm session; its start-up is still a cold consumer start.
    dim = (
        load_table(ctx.spark, inputs.path, "customer").filter(stream.ELIGIBLE)
        .selectExpr("c_custkey AS customer_id", "true AS eligible")
    )
    stream_stats: defaultdict[str, float] = defaultdict(float)
    with ctx.span("bench.stream"):
        lat, drain_rate = stream.run(ctx, inputs.extra, dim, res, stream_stats)

    _, mark = _stage_bytes(ctx.spark, -1)
    passes = [one_pass(res.layers) for _ in range(timed_passes(ctx.seconds))]
    timed_s = sum(w for p in passes for w in p.values())
    moved, _ = _stage_bytes(ctx.spark, mark)

    n = len(passes)
    for k in list(res.layers):
        res.layers[k] /= n  # per-pass figures
    _catalog_loads(ctx, inputs, res.layers)
    busy = sum(res.layers.get(k, 0) for k in ("queries.build_s", "planner.plan_s", "exec.exec_s"))
    res.layers["queries.build_share"] = res.layers.get("queries.build_s", 0) / busy if busy else 0.0
    for h in ("build_heavy", "exec_heavy"):
        split = [res.layers.get(f"{h}.{k}", 0.0) for k in ("build_s", "plan_s", "exec_s")]
        res.layers[f"{h}.build_share"] = split[0] / sum(split) if sum(split) else 0.0
    res.layers.update(stream_stats)

    def half(queries):  # median over passes of the half's wall time
        return measure.median(sum(p[q] for q in queries) for p in passes)

    pct, tail, n_lat = measure.tail_percentile(lat)
    res.e2e.update(
        primary_s=half(BUILD_HEAVY),
        secondary_s=half(EXEC_HEAVY),
        throughput_per_s=drain_rate,
        bytes_per_input_byte=moved / n / inputs.nbytes,
    )
    res.layers.update({"latency.p50_s": measure.median(lat), "latency.tail_s": tail})
    res.report += [
        f"analyst_stream: order stream (start-up {res.layers['stream.startup_s']:.3f} s on a "
        f"{len(inputs.extra['primer'])}-item primer, {stream.DRAIN_ROUNDS} backlogs of "
        f"{len(inputs.extra['backlog']) // stream.DRAIN_ROUNDS} items drained in "
        f"{res.layers['stream.drain_batches']:g} micro-batch(es) in all, then "
        f"{len(inputs.extra['live'])} live items at {stream.STREAM_RATE:g}/s), "
        f"after a warm-up pass; then {n} timed pass(es) of {len(QUERIES)} queries",
        f"  emit_p50_s {measure.median(lat):.4f} s, emit_p{pct:g}_s {tail:.4f} s (n={n_lat})",
        f"  drain_items_per_s {drain_rate:.2f} 1/s",
        f"  build_heavy_s {res.e2e['primary_s']:.4f} s  ({', '.join(BUILD_HEAVY)}; median of {n})",
        f"  exec_heavy_s  {res.e2e['secondary_s']:.4f} s  ({', '.join(EXEC_HEAVY)}; median of {n})",
        f"  queries_per_s {len(QUERIES) * n / timed_s:.4f} 1/s",
    ] + [
        f"  {h:11s} per pass: build {res.layers[f'{h}.build_s']:.4f} s, "
        f"plan {res.layers[f'{h}.plan_s']:.4f} s, exec {res.layers[f'{h}.exec_s']:.4f} s, "
        f"build_share {res.layers[f'{h}.build_share']:.3f}"
        for h in ("build_heavy", "exec_heavy")
    ] + [
        f"  shuffle+spill bytes per pass per input byte {res.e2e['bytes_per_input_byte']:.4f}",
        f"  failed_frac {res.failed}/{res.attempted}",
    ] + [f"  {q:24s} median {measure.median(p[q] for p in passes):.4f} s" for q in QUERIES]
    return res


def _stage_bytes(spark, after: int) -> tuple[int, int]:
    """Shuffle-write plus spill bytes of the stages with an id above
    ``after`` (one status-store read), and the highest stage id seen."""
    sc = spark.sparkContext
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    stages = sc._jsc.sc().statusStore().stageList(None, False, False, empty, None)
    total, top = 0, after
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() > after:
            total += s.shuffleWriteBytes() + s.memoryBytesSpilled() + s.diskBytesSpilled()
            top = max(top, s.stageId())
    return total, top
